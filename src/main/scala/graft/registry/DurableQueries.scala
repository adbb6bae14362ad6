package graft.registry

import graft._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Oracle.withSql

/** P3/P4/P5 + S5 against the DURABLE store ([[graft.DurableStore]]):
  * the same point mutations as the plan-rewrite entries in
  * [[PointOpsQueries]], but persisted via copy-on-write partition rewrite
  * and read back through a REOPENED store (fresh manifest from disk), so
  * the oracle checks what survived the commit, not what a session plan
  * holds. Oracles are identical to the p3/p4/p5 entries — durability must
  * not change a single value.
  *
  * Every entry branches from version 1 of a shared per-dir base store, so
  * entries are order-independent (old versions are immutable) and repeat
  * runs are deterministic. */
object DurableQueries {

  /** Every /tmp fixture root this object creates, deleted at JVM exit
    * (ADVICE r11: repeated bench/test sessions were accumulating
    * corpus-sized store + lake copies in /tmp with no cleanup). */
  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tempRoots.forEach { p =>
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(path)) {
        val walk = java.nio.file.Files.walk(path)
        // NonFatal, not IOException: the walk's iterator throws
        // UncheckedIOException, which would otherwise kill the hook
        // thread and leak every remaining queued root (review r12)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
        catch { case scala.util.control.NonFatal(_) => () }
        finally walk.close()
      }
    }))

  private def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    tempRoots.add(p)
    p
  }

  private val stores =
    new java.util.concurrent.ConcurrentHashMap[String, DurableStore]()

  /** s7's once-per-(session, fixture) observed lifecycle values. */
  private val s7Results =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long, Long, Boolean)]()

  /** p4b's once-per-(session, fixture) tombstone→compact lifecycle values. */
  private val tombCompactResults =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Boolean)]()

  /** s21's once-per-(session, fixture) auto-compaction lifecycle values. */
  private val autoCompactResults =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Boolean)]()

  /** s22's once-per-(session, fixture) streamed vertex-upsert final rows. */
  private val streamVertexResults =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Any]]]()

  /** Version carrying the retrofitted in-edge mirror on [[baseStore]] —
    * built once per (session, fixture) so repeat runs (Bench warm+timed)
    * don't stack redundant index-build commits. Public so Bench can warm
    * it with the other store fixtures: the index build is one-time setup
    * (the reference builds its in-edge index at shard-write time), not
    * per-query work. */
  private val mirrored =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def mirrorVersion(s: SparkSession, d: String): Int =
    mirrored.computeIfAbsent(s"${s.sparkContext.applicationId}|$d",
      // mirror files sized for SERVING (256k rows vs the 1M write-side
      // default): a driver-local hop decodes hit files concurrently, so
      // its wall time is the LARGEST file — a 1M-row file is one row
      // group, serial by construction. The reference sizes its shards
      // for lookup latency the same way (shardSizeLimit). Write cost is
      // unchanged (same one shuffled write, 4× the output files).
      _ => baseStore(s, d).buildInEdgeIndex(1, targetFileRows = 256L << 10))

  /** Base store (version 1) for a fixture dir, created once per JVM. */
  def baseStore(s: SparkSession, d: String): DurableStore =
    stores.computeIfAbsent(s"${s.sparkContext.applicationId}|$d", _ => {
      val root = tempDir("graft-durable")
      DurableStore.create(s, Tables.orderEdges(s, d), root)
    })

  /** ADOPTED store ([[DurableStore.adopt]]): the order edges written
    * once as plain range-partitioned sorted parquet — the "existing
    * data lake" fixture — then indexed IN PLACE: the manifest is
    * metadata-only (per-file stats from the footers, zero data reads,
    * zero data movement). The dst-sorted mirror is a second sorted
    * write of the same rows — the price of the in-edge INDEX, paid by
    * any indexing scheme, not of adoption. Built once per (session,
    * fixture); public so Bench warms it with the other stores. */
  private val adopted =
    new java.util.concurrent.ConcurrentHashMap[String, DurableStore]()

  def adoptedStore(s: SparkSession, d: String): DurableStore =
    adopted.computeIfAbsent(s"${s.sparkContext.applicationId}|$d", _ => {
      val dir = tempDir("graft-lake")
      val e = Tables.orderEdges(s, d)
      e.repartitionByRange(8, col("src")).sortWithinPartitions("src", "dst")
        .write.parquet(s"$dir/edges")
      e.repartitionByRange(8, col("dst")).sortWithinPartitions("dst", "src")
        .write.parquet(s"$dir/medges")
      DurableStore.adopt(s, s"$dir/edges",
        tempDir("graft-adopted"),
        mirrorDir = Some(s"$dir/medges"))
    })

  /** Reopen from disk — drops every in-memory handle the mutation held. */
  private def reopen(s: SparkSession, st: DurableStore): DurableStore =
    new DurableStore(s, st.root)

  // ---- served-or-job arms (VERDICT r13 wrong #1): every served registry
  // entry degrades to its routed ONE-JOB distributed form when the served
  // read refuses — past the store's fixed serving budgets (`compact()`
  // brings it back under them) or on a store without the side it needs —
  // instead of erroring: the q5s/q6s fallback protocol applied uniformly.
  // ServedReadSpec forces the refusal arm with a handle whose budgets are
  // 0 and pins it row-equal to the served answer. ----

  /** n3s arm: zero-job multi-key hop, else the pruned distributed read. */
  private[graft] def outNeighborsServedOrJob(s: SparkSession, st: DurableStore,
      v: Int, keys: Array[Long]): org.apache.spark.sql.DataFrame =
    st.servedOutNeighbors(v, keys) match {
      case Some(dsts) =>
        import s.implicits._
        dsts.toSeq.toDF("dst")
      case None =>
        st.readForSrcs(v, keys).filter(col("src").isin(keys.toSeq: _*))
          .select("dst")
    }

  /** n4s arm: zero-job full-row value join, else the distributed read
    * (both in store-schema column order). */
  private[graft] def outRowsServedOrJob(s: SparkSession, st: DurableStore,
      v: Int, keys: Array[Long]): org.apache.spark.sql.DataFrame =
    st.servedOutRows(v, keys) match {
      case Some(rows) =>
        val schema = org.apache.spark.sql.types.StructType
          .fromDDL(st.manifest(v).schemaDDL)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
      case None =>
        st.readForSrcs(v, keys).filter(col("src").isin(keys.toSeq: _*))
    }

  /** n6s arm: zero-job counted degrees, else one job over the pruned
    * store scan (absent ids report (0, 0) on both arms). */
  private[graft] def degreesServedOrJob(s: SparkSession, st: DurableStore,
      v: Int, keys: Array[Long]): org.apache.spark.sql.DataFrame =
    st.servedDegrees(v, keys) match {
      case Some(rows) =>
        import s.implicits._
        rows.toDF("id", "out_deg", "in_deg")
      case None =>
        import s.implicits._
        val kdf = keys.toSeq.toDF("id")
        val e = st.read(v)
        val o = e.filter(col("src").isin(keys.toSeq: _*))
          .groupBy(col("src").as("id")).agg(count(lit(1)).as("_o"))
        val i = e.filter(col("dst").isin(keys.toSeq: _*))
          .groupBy(col("dst").as("id")).agg(count(lit(1)).as("_i"))
        kdf.join(o, Seq("id"), "left").join(i, Seq("id"), "left")
          .select(col("id"), coalesce(col("_o"), lit(0L)).as("out_deg"),
            coalesce(col("_i"), lit(0L)).as("in_deg"))
    }

  /** p6b/s22 arm: zero-job vertex getMany, else one job over the
    * resolved side-table (collected — the caller holds rows either
    * way). Ascending id, store vertex-schema column order on both. */
  private[graft] def vertexRowsServedOrJob(s: SparkSession, st: DurableStore,
      v: Int, ids: Array[Long]): Seq[Seq[Any]] =
    st.servedVertexRows(v, ids).getOrElse(
      st.readVertices(v).filter(col("id").isin(ids.toSeq: _*))
        .orderBy("id").collect().toSeq.map(_.toSeq))

  /** n4sv arm: the composed zero-job (edge rows ⋈ dst vertex columns)
    * serving join, else the distributed left join it is row-equal to. */
  private[graft] def outRowsWithVertexServedOrJob(s: SparkSession,
      st: DurableStore, v: Int, keys: Array[Long], vcols: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val vs = org.apache.spark.sql.types.StructType
      .fromDDL(st.manifest(v).vschemaDDL)
    // resolve the "all non-id columns" default HERE so the served
    // schema and the fallback projection always agree (review r14)
    val cols =
      if (vcols.nonEmpty) vcols else vs.fieldNames.filterNot(_ == "id").toSeq
    st.servedOutRowsWithVertex(v, keys, cols) match {
      case Some(rows) =>
        val es = org.apache.spark.sql.types.StructType
          .fromDDL(st.manifest(v).schemaDDL)
        val schema = org.apache.spark.sql.types.StructType(
          es.fields ++ cols.map(c => vs(c).copy(nullable = true)))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
      case None =>
        st.readForSrcs(v, keys).filter(col("src").isin(keys.toSeq: _*))
          .join(st.readVertices(v).select(("id" +: cols).map(col): _*),
            col("dst") === col("id"), "left")
          .drop("id")
    }
  }

  /** Vertex side-table lifecycle on [[baseStore]], built once per
    * (session, fixture): attach the TPC-H vertex columns (acctbal in
    * integer cents — the repo's cross-engine money convention) with
    * auto-fill defaults, point-SET the min id's balance, FIRST-TOUCH an
    * absent id (auto-fill materializes the defaults), and bulk-rewrite a
    * branch with updateAllVertices. Returns (vServe, vUpdateAll):
    * p6b serves from the first, p9b reads the second — both branch from
    * immutable versions, so repeat runs replay identical state. */
  private val vertexVersions =
    new java.util.concurrent.ConcurrentHashMap[String, (Integer, Integer)]()

  /** The first-touched vertex id: above every customer/supplier id at any
    * scale factor (suppliers sit at +1,000,000; regions at +3,000,000). */
  private val FreshVertexId = 9000000L

  def vertexVersionPair(s: SparkSession, d: String): (Int, Int) = {
    val p = vertexVersions.computeIfAbsent(
      s"${s.sparkContext.applicationId}|$d", _ => {
        val st = baseStore(s, d)
        val props = Tables.vertices(s, d).select(col("id"), col("vtype"),
          col("name"), cents(col("acctbal")).as("acct_cents"))
        val vBase = st.setVertexTable(1, props, defaults = Map(
          "vtype" -> "'unknown'", "name" -> "'auto'", "acct_cents" -> "0"))
        val minId = Tables.vertices(s, d).agg(min("id")).head().getLong(0)
        val v2 = st.setVertexProp(vBase, minId, "acct_cents", lit(12345L))
        val vServe = st.setVertexProp(v2, FreshVertexId, "acct_cents", lit(777L))
        val vAll = st.updateAllVertices(vBase, "acct_cents",
          col("acct_cents") * 2 + (col("id") % 10))
        (Integer.valueOf(vServe), Integer.valueOf(vAll))
      })
    (p._1.intValue(), p._2.intValue())
  }

  private def minSrcVal(s: SparkSession, d: String): Long =
    Tables.orderEdges(s, d).agg(min("src")).head().getLong(0)

  /** C2 substrate (reference runs continuous computation while inserting,
    * GraphChiDatabase.scala:2258-2283): 1/4 of the order graph bulk-loads
    * a fresh durable store, the remaining 3/4 arrives through a REAL
    * Structured Streaming query ([[graft.streaming.OnlineIngest
    * .ingestDurable]], checkpointed + idempotent), with mid-stream
    * compaction, then a final compact. Built once per (session, fixture);
    * the s6 entry computes on the drained snapshot. */
  private val ingested =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def ingestedStoreRoot(s: SparkSession, d: String): String =
    ingested.computeIfAbsent(s"${s.sparkContext.applicationId}|$d", _ => {
      val watch = tempDir("graft-c2-in")
      val root = tempDir("graft-c2-store")
      val e = Tables.orderEdges(s, d)
        .withColumn("_s", pmod(col("src"), lit(4))).localCheckpoint(true)
      val base = e.filter(col("_s") === 0).drop("_s")
      (1 to 3).foreach(i => e.filter(col("_s") === i).drop("_s")
        .coalesce(1).write.parquet(s"$watch/b$i.parquet"))
      val st = DurableStore.create(s, base, root)
      graft.streaming.OnlineIngest
        .ingestDurable(s, base.schema, s"$watch/*", st, compactEvery = 2)
        .awaitTermination()
      val re = new DurableStore(s, root)
      re.compact(re.currentVersion)
      root
    })

  /** S20 substrate: a CHANGE-DATA-CAPTURE feed replayed through a REAL
    * Structured Streaming query ([[graft.streaming.OnlineIngest
    * .ingestCdc]]): the full order graph bulk-loads a store, then batch 1
    * DELETES every out-edge of the min customer (op "d" rows → one
    * tombstone commit) and batch 2 RE-INSERTS its min-dst edge (op "i"
    * rows → delta at a later sequence number, surviving the tombstone),
    * with compaction folding both into the sorted buckets. Built once
    * per (session, fixture). */
  private val cdcStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def cdcStoreRoot(s: SparkSession, d: String): String =
    cdcStores.computeIfAbsent(s"${s.sparkContext.applicationId}|$d", _ => {
      val watch = tempDir("graft-cdc-in")
      val root = tempDir("graft-cdc-store")
      val e = Tables.orderEdges(s, d).localCheckpoint(true)
      val st = DurableStore.create(s, e, root)
      val v = e.agg(min("src")).head().getLong(0)
      val w = e.filter(col("src") === v).agg(min("dst")).head().getLong(0)
      e.filter(col("src") === v).withColumn("_op", lit("d"))
        .coalesce(1).write.parquet(s"$watch/b1.parquet")
      e.filter(col("src") === v && col("dst") === w).withColumn("_op", lit("i"))
        .coalesce(1).write.parquet(s"$watch/b2.parquet")
      // PIN the replay order (ADVICE r12): FileStreamSource orders files
      // by modification time, and two back-to-back writes can land in the
      // same mtime granule — a tie-broken flip would replay
      // insert-then-delete and kill the re-inserted edge. Explicit
      // distinct mtimes make delete-before-insert a property of the
      // fixture, not of filesystem timing.
      val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis)
      val earlier = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 60000)
      Seq((s"$watch/b1.parquet", earlier), (s"$watch/b2.parquet", now)).foreach {
        case (dir, t) =>
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          try walk.forEach(f => { java.nio.file.Files.setLastModifiedTime(f, t); () })
          finally walk.close()
      }
      val schema = s.read.parquet(s"$watch/b1.parquet").schema
      graft.streaming.OnlineIngest
        .ingestCdc(s, schema, s"$watch/*", st, compactEvery = 2)
        .awaitTermination()
      root
    })

  val entries: Seq[QueryEntry] = Seq(

    // ---- S20: streaming CDC ingest — deletes arrive as tombstone
    //      commits, inserts as deltas, replay-idempotent, physically
    //      folded by in-stream compaction; the oracle checks the exact
    //      final state (delete-all-then-re-insert-one across batches is
    //      the sequence-scoping proof under a real stream) ----
    ("s20_streaming_cdc",
      (s: SparkSession, d: String) => {
        val root = cdcStoreRoot(s, d)
        val st = new DurableStore(s, root)
        val m = st.manifest(st.currentVersion)
        require(m.tombs.isEmpty && m.files.forall(_.sorted),
          "in-stream compaction must fold CDC tombstones and deltas")
        st.readLatest()
          .agg(count(lit(1)).as("n"), sum(cents(col("weight"))).as("wsum_cents"))
      },
      Some(withSql(Oracle.EDGES,
        """, fin AS (
          |  SELECT * FROM edges WHERE src <> (SELECT min(src) FROM edges)
          |  UNION ALL
          |  SELECT * FROM edges
          |  WHERE src = (SELECT min(src) FROM edges)
          |    AND dst = (SELECT min(dst) FROM edges WHERE src = (SELECT min(src) FROM edges)))
          |SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(weight AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wsum_cents
          |FROM fin""".stripMargin))),

    // ---- N1 served from the durable store's manifest-pruned point-read
    //      path (readForSrc: only files whose [srcMin, srcMax] cover the
    //      key are even listed — the interval→shard routing of the
    //      reference, file-level, before row-group pruning) ----
    ("n1_query_out_durable",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val v = minSrcVal(s, d)
        st.readForSrc(1, v).filter(col("src") === v)
          .select("src", "dst", "etype", "ets", "weight", "rating")
      },
      Some(withSql(Oracle.EDGES,
        """SELECT src, dst, etype, ets, weight, rating FROM edges
          |WHERE src = (SELECT min(src) FROM edges)""".stripMargin))),

    // ---- N2 served from the durable store's IN-EDGE mirror: the store
    //      retrofits a dst-bucketed mirror of the same multiset (the
    //      reference's in-edge linked-list index, QueryShard.java:662-812,
    //      as a second sort order), and readForDst routes by the mirror's
    //      dst-tight file stats — same oracle as the plan-based n2 ----
    ("n2_query_in_durable",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val vm = mirrorVersion(s, d)
        val w = Tables.orderEdges(s, d).agg(min("dst")).head().getLong(0)
        st.readForDst(vm, w).filter(col("dst") === w)
          .select("src", "dst", "etype", "ets", "weight", "rating")
      },
      Some(withSql(Oracle.EDGES,
        """SELECT src, dst, etype, ets, weight, rating FROM edges
          |WHERE dst = (SELECT min(dst) FROM edges)""".stripMargin))),

    // ---- N3 SERVED (VERDICT r11 next #7): the multi-key frontier hop
    //      as a ZERO-JOB driver read — dst values of every src in the
    //      key set, pushed as one parquet `in` predicate per routed
    //      file, row-equal to the distributed readForSrcs form ----
    ("n3s_query_out_multiple_served",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val keys = Tables.orderEdges(s, d).select("src").distinct()
          .orderBy("src").limit(2).collect().map(_.getLong(0))
        outNeighborsServedOrJob(s, st, 1, keys)
      },
      Some(withSql(Oracle.EDGES,
        """SELECT dst FROM edges WHERE src IN (
          |  SELECT src FROM (SELECT DISTINCT src FROM edges ORDER BY src LIMIT 2))""".stripMargin))),

    // ---- Q5 SERVED (VERDICT r11 next #3 mechanism): bidirectional BFS
    //      distance entirely on the driver — frontier hops as pushed-IN
    //      served reads against primary + mirror, min meet over the
    //      completed level (reference Queries.scala:107-194). The oracle
    //      is the same recursive walk the q5 family uses, over the
    //      symmetric order-graph view ----
    ("q5s_shortest_path_served",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val vm = mirrorVersion(s, d)
        val from = minSrcVal(s, d)
        // target: the LARGEST customer id — on the bipartite order graph
        // the walk must cross at least one supplier (≥ 2 hops), and the
        // endpoint exists at every scale factor
        val to = Tables.orderEdges(s, d).agg(max("src")).head().getLong(0)
        st.servedShortestPath(vm, from, to, maxDepth = 4) match {
          case Some(dist) =>
            s.range(1).select(
              (dist match {
                case Some(x) => lit(x)
                case None => lit(null)
              }).cast("long").as("dist"))
          case None =>
            // budget refusal (deeper fixture / tighter budgets) degrades
            // to the distributed bidirectional BFS instead of erroring —
            // the documented fallback, same protocol as q6s (VERDICT r12
            // wrong #1)
            val e = Tables.orderEdges(s, d).select("src", "dst")
            val sym = e.unionByName(
              e.select(col("dst").as("src"), col("src").as("dst")))
            Traversals.bidirectionalDist(sym,
              s.range(1).select(lit(from).as("id")),
              s.range(1).select(lit(to).as("id")), maxDepth = 4)._1
        }
      },
      Some(withSql(Oracle.EDGES,
        """, f AS (SELECT min(src) AS s FROM edges),
          |t AS (SELECT max(src) AS tid FROM edges),
          |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
          |walk(id, dist) AS (
          |  SELECT s, 0 FROM f
          |  UNION
          |  SELECT n.dst, w.dist + 1 FROM walk w JOIN sym n ON w.id = n.src WHERE w.dist < 4)
          |SELECT CAST(min(dist) AS BIGINT) AS dist FROM walk WHERE id IN (SELECT tid FROM t)""".stripMargin))),

    // ---- Q6 SERVED: the single-source shortest-path TREE (dist +
    //      min-parent, reference Queries.scala:198-243) computed on the
    //      driver — one pushed-IN pair read per BFS level, zero Spark
    //      jobs at serving scale; past the frontier gate it falls back
    //      to the distributed Traversals.ssspTree (same tree — the
    //      min-parent rule is level-order-independent) ----
    ("q6s_sssp_served",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val vm = mirrorVersion(s, d)
        val from = minSrcVal(s, d)
        st.servedSsspTree(vm, from, maxDepth = 3) match {
          case Some(rows) =>
            import s.implicits._
            rows.toDF("id", "dist", "parent")
          case None =>
            val e = Tables.orderEdges(s, d).select("src", "dst")
            val sym = e.unionByName(
              e.select(col("dst").as("src"), col("src").as("dst")))
            Traversals.ssspTree(sym,
              s.range(1).select(lit(from).as("id")), maxDepth = 3)
        }
      },
      Some(withSql(Oracle.EDGES,
        """, f AS (SELECT min(src) AS s FROM edges),
          |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
          |walk(id, dist) AS (
          |  SELECT s, 0 FROM f
          |  UNION
          |  SELECT n.dst, w.dist + 1 FROM walk w JOIN sym n ON w.id = n.src WHERE w.dist < 3),
          |dd AS (SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY id),
          |par AS (SELECT n.dst AS id, min(n.src) AS parent
          |        FROM sym n JOIN dd p ON n.src = p.id JOIN dd c ON n.dst = c.id
          |        WHERE c.dist = p.dist + 1 GROUP BY n.dst)
          |SELECT d.id, d.dist, COALESCE(par.parent, d.id) AS parent
          |FROM dd d LEFT JOIN par ON d.id = par.id""".stripMargin))),

    // ---- N4 SERVED (VERDICT r12 missing #3): the value join on the
    //      serving path — full edge rows for a multi-key hop decoded on
    //      the driver (zero Spark jobs), so a serving client gets
    //      (dst, weight, rating) without the one-job readForSrcs ⋈ select
    //      fallback (reference QueryResult.join, QueryResult.scala:44-69:
    //      neighbor results joined with edge value columns) ----
    ("n4s_join_served",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val keys = Tables.orderEdges(s, d).select("src").distinct()
          .orderBy("src").limit(2).collect().map(_.getLong(0))
        outRowsServedOrJob(s, st, 1, keys)
          .select(col("dst"), col("weight"), col("rating"))
      },
      Some(withSql(Oracle.EDGES,
        """SELECT dst, weight, rating FROM edges WHERE src IN (
          |  SELECT src FROM (SELECT DISTINCT src FROM edges ORDER BY src LIMIT 2))""".stripMargin))),

    // ---- N4 SERVED ⋈ VERTEX (VERDICT r13 missing #3): the COMPOSED
    //      serving join — edge rows for a multi-key hop extended with
    //      the dst VERTEX's property columns, two pool rounds, zero
    //      Spark jobs (reference QueryResult.join(vertexColumn),
    //      QueryResult.scala:44-69: neighbor results joined with vertex
    //      column values). Row-equal to the distributed hop ⋈ vertex
    //      side-table left join, which is also the budget-refusal
    //      fallback arm ----
    ("n4sv_join_served_vertex",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val (vServe, _) = vertexVersionPair(s, d)
        val keys = Tables.orderEdges(s, d).select("src").distinct()
          .orderBy("src").limit(2).collect().map(_.getLong(0))
        outRowsWithVertexServedOrJob(s, st, vServe, keys,
          Seq("name", "acct_cents"))
          .select(col("dst"), col("weight"), col("rating"),
            col("name"), col("acct_cents"))
      },
      Some(withSql(Oracle.EDGES + ",\n" + Oracle.VERTICES,
        """SELECT e.dst, e.weight, e.rating, v.name,
          |       CASE WHEN v.id = (SELECT min(id) FROM vertices) THEN 12345
          |            ELSE CAST(CAST(v.acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) END AS acct_cents
          |FROM edges e LEFT JOIN vertices v ON e.dst = v.id
          |WHERE e.src IN (
          |  SELECT src FROM (SELECT DISTINCT src FROM edges ORDER BY src LIMIT 2))""".stripMargin))),

    // ---- N6 SERVED: zero-job (out, in) degree lookup — the reference
    //      maintains a degree COLUMN for O(1) degree access
    //      (GraphChiDatabase.scala:1759-1833); here degrees are COUNTED
    //      at serve time from the manifest-routed files, transactional
    //      with every mutation for free. Key set mixes pure-out vertices
    //      (customers), pure-in vertices (suppliers) and one ABSENT id
    //      (must report (0, 0) — the reference's untouched vertex) ----
    ("n6s_degrees_served",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val vm = mirrorVersion(s, d)
        val e = Tables.orderEdges(s, d)
        val keys = e.select("src").distinct().orderBy("src").limit(3)
          .collect().map(_.getLong(0)) ++
          e.select("dst").distinct().orderBy("dst").limit(2)
          .collect().map(_.getLong(0)) :+ 4999999L
        degreesServedOrJob(s, st, vm, keys)
      },
      Some(withSql(Oracle.EDGES,
        """, ks AS (
          |  SELECT src AS id FROM (SELECT DISTINCT src FROM edges ORDER BY src LIMIT 3)
          |  UNION
          |  SELECT dst AS id FROM (SELECT DISTINCT dst FROM edges ORDER BY dst LIMIT 2)
          |  UNION SELECT 4999999 AS id)
          |SELECT k.id,
          |       (SELECT count(*) FROM edges e WHERE e.src = k.id) AS out_deg,
          |       (SELECT count(*) FROM edges e WHERE e.dst = k.id) AS in_deg
          |FROM ks k""".stripMargin))),

    // ---- P6 on the DURABLE substrate (VERDICT r12 missing #2): vertex
    //      property columns in the manifest — point SET in the append
    //      class, FIRST-TOUCH auto-fill from declared defaults
    //      (reference Column.scala:48-78, GraphChiDatabase.scala:888-899),
    //      and a zero-job served getMany, read-your-writes through the
    //      upsert deltas ----
    ("p6b_vertex_get_set_store",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val (vServe, _) = vertexVersionPair(s, d)
        val ids = Tables.vertices(s, d).select("id").distinct()
          .orderBy("id").limit(5).collect().map(_.getLong(0)) :+ FreshVertexId
        val rows = vertexRowsServedOrJob(s, st, vServe, ids)
        val schema = org.apache.spark.sql.types.StructType
          .fromDDL(st.manifest(vServe).vschemaDDL)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
      },
      Some(withSql(Oracle.EDGES + ",\n" + Oracle.VERTICES,
        """SELECT id, vtype, name,
          |       CASE WHEN id = (SELECT min(id) FROM vertices) THEN 12345
          |            ELSE CAST(CAST(acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) END AS acct_cents
          |FROM vertices
          |WHERE id IN (SELECT id FROM (SELECT DISTINCT id FROM vertices ORDER BY id LIMIT 5))
          |UNION ALL
          |SELECT 9000000 AS id, 'unknown' AS vtype, 'auto' AS name, 777 AS acct_cents""".stripMargin))),

    // ---- P9 on the DURABLE substrate: updateAll over the vertex
    //      side-table — one fresh id-sorted rewrite of the resolved
    //      table (reference Column.updateAll, Column.scala:187-190),
    //      branched from the pre-mutation version (old versions stay
    //      readable — the branch semantics the store pins) ----
    ("p9b_vertex_update_all_store",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val (_, vAll) = vertexVersionPair(s, d)
        st.readVertices(vAll)
          .agg(count(lit(1)).as("n"),
            sum(col("acct_cents")).cast("long").as("acct_sum"))
      },
      Some(withSql(Oracle.EDGES + ",\n" + Oracle.VERTICES,
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * 2 + id % 10) AS BIGINT) AS acct_sum
          |FROM vertices""".stripMargin))),

    // ---- P5 + vertex PROPERTY ROW (VERDICT r13 missing #2): deleting a
    //      vertex tombstones its side-table row in the SAME commit
    //      (reference deleteVertex clears the vertex's column state,
    //      GraphChiDatabase.scala:1307-1339) — the served getMany stops
    //      returning it immediately, compact() physically reclaims row
    //      AND tombstone, and a later first-touch point set RE-CREATES
    //      the row from the auto-fill defaults, never the dead values.
    //      The oracle pins the full delete → compact → re-create
    //      lifecycle ----
    ("p5b_delete_vertex_props",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val (vServe, _) = vertexVersionPair(s, d)
        val ids = Tables.vertices(s, d).select("id").distinct()
          .orderBy("id").limit(3).collect().map(_.getLong(0))
        val minId = ids.head
        val nv = st.deleteVertexTombstone(vServe, minId)
        val re = reopen(s, st)
        require(re.servedVertexRow(nv, minId).isEmpty,
          "deleted vertex still serves its property row")
        require(re.servedVertexRow(vServe, minId).nonEmpty,
          "the pre-delete version lost the row (copy-on-write broken)")
        val nc = re.compact(nv)
        val mc = reopen(s, re).manifest(nc)
        require(mc.vtombs.isEmpty && mc.tombs.isEmpty,
          "compact left tombstones behind")
        require(re.servedVertexRow(nc, minId).isEmpty,
          "compact resurrected the deleted vertex row")
        // first-touch re-creation: defaults materialize, then the set
        val nr = re.setVertexProp(nc, minId, "acct_cents", lit(999L))
        val rows = vertexRowsServedOrJob(s, reopen(s, re), nr, ids)
        val schema = org.apache.spark.sql.types.StructType
          .fromDDL(st.manifest(vServe).vschemaDDL)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
      },
      Some(withSql(Oracle.EDGES + ",\n" + Oracle.VERTICES,
        """SELECT id, 'unknown' AS vtype, 'auto' AS name,
          |       CAST(999 AS BIGINT) AS acct_cents
          |FROM vertices WHERE id = (SELECT min(id) FROM vertices)
          |UNION ALL
          |SELECT id, vtype, name,
          |       CAST(CAST(acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acct_cents
          |FROM vertices
          |WHERE id IN (SELECT id FROM (SELECT DISTINCT id FROM vertices ORDER BY id LIMIT 3))
          |  AND id <> (SELECT min(id) FROM vertices)""".stripMargin))),

    // ---- P3 durable: updateEdge persisted by bucket rewrite ----
    ("p3_update_edge_store",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val v = minSrcVal(s, d)
        val nv = st.updateEdges(1, col("src") === v, "rating", lit(9), srcKey = Some(v))
        reopen(s, st).read(nv)
          .agg(sum(col("rating")).cast("long").as("rating_sum"),
               count(lit(1)).as("n"))
      },
      Some(withSql(Oracle.EDGES,
        """SELECT CAST(sum(CASE WHEN src = (SELECT min(src) FROM edges) THEN 9 ELSE rating END) AS BIGINT) AS rating_sum,
          |       count(*) AS n
          |FROM edges""".stripMargin))),

    // ---- P3 in the APPEND class: point update as tombstone +
    //      re-append in one atomic commit (updateEdgeDelta) — the
    //      reference's in-place setEdgeValue
    //      (GraphChiDatabase.scala:1245-1271) re-expressed over
    //      immutable files: no base rewrite, O(rows touched) ----
    ("p3b_update_edge_delta",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val v = minSrcVal(s, d)
        val w = st.read(1).filter(col("src") === v).agg(min("dst")).head().getLong(0)
        val nv = st.updateEdgeDelta(1, v, w, "rating", lit(9))
        reopen(s, st).read(nv)
          .agg(sum(col("rating")).cast("long").as("rating_sum"),
               count(lit(1)).as("n"))
      },
      Some(withSql(Oracle.EDGES,
        """SELECT CAST(sum(CASE WHEN src = (SELECT min(src) FROM edges)
          |                      AND dst = (SELECT min(dst) FROM edges WHERE src = (SELECT min(src) FROM edges))
          |                     THEN 9 ELSE rating END) AS BIGINT) AS rating_sum,
          |       count(*) AS n
          |FROM edges""".stripMargin))),

    // ---- P4 durable: point delete persisted as an O(1) TOMBSTONE
    //      (reference GraphChiDatabase.scala:1273-1305 — DELETED_TYPE
    //      marker, reclaimed at merge): the commit writes one tiny
    //      tombstone file ON THE DRIVER (zero Spark jobs, append-class
    //      latency), and the read-back path anti-joins it — the oracle
    //      checks the LOGICAL view the instant the delete lands ----
    ("p4_delete_edge_store",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val v = minSrcVal(s, d)
        val w = st.read(1).filter(col("src") === v).agg(min("dst")).head().getLong(0)
        val nv = st.deleteEdgeTombstone(1, v, w)
        reopen(s, st).read(nv)
          .agg(count(lit(1)).as("n"), sum(cents(col("weight"))).as("wsum_cents"))
      },
      Some(withSql(Oracle.EDGES,
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(weight AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wsum_cents
          |FROM edges
          |WHERE NOT (src = (SELECT min(src) FROM edges)
          |       AND dst = (SELECT min(dst) FROM edges WHERE src = (SELECT min(src) FROM edges)))""".stripMargin))),

    // ---- P5 durable: deleteVertex persisted as an O(1) vertex
    //      TOMBSTONE (both endpoint sides excluded at read) ----
    ("p5_delete_vertex_store",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val v = minSrcVal(s, d)
        val nv = st.deleteVertexTombstone(1, v)
        reopen(s, st).read(nv)
          .agg(count(lit(1)).as("n"), sum(cents(col("weight"))).as("wsum_cents"))
      },
      Some(withSql(Oracle.EDGES,
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(weight AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wsum_cents
          |FROM edges
          |WHERE src <> (SELECT min(src) FROM edges) AND dst <> (SELECT min(src) FROM edges)""".stripMargin))),

    // ---- P4 lifecycle: tombstone delete → compact physically reclaims
    //      (rows dropped from the data files, tombstone removed from the
    //      manifest) with the logical view unchanged — the reference's
    //      lazy cleanup at merge (GraphChiDatabase.scala:622-795),
    //      value-checked end-to-end. Cached per (session, fixture): the
    //      lifecycle mutates a fresh store once; repeats replay values ----
    ("p4b_delete_tombstone_compact",
      (s: SparkSession, d: String) => {
        val vals = tombCompactResults.computeIfAbsent(
          s"${s.sparkContext.applicationId}|$d", _ => {
            val root = tempDir("graft-p4b")
            val st = DurableStore.create(s, Tables.orderEdges(s, d), root)
            val v = minSrcVal(s, d)
            val w = st.read(1).filter(col("src") === v)
              .agg(min("dst")).head().getLong(0)
            val v2 = st.deleteEdgeTombstone(1, v, w)
            val v3 = st.compact(v2)
            val m3 = reopen(s, st).manifest(v3)
            val physicallyGone = m3.tombs.isEmpty &&
              s.read.parquet(m3.files.map(_.path): _*)
                .filter(col("src") === v && col("dst") === w).isEmpty
            val r = reopen(s, st).read(v3)
              .agg(count(lit(1)), sum(cents(col("weight")))).head()
            (r.getLong(0), r.getLong(1), physicallyGone)
          })
        s.range(1).select(lit(vals._1).as("n"),
          lit(vals._2).as("wsum_cents"), lit(vals._3).as("reclaimed"))
      },
      Some(withSql(Oracle.EDGES,
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(weight AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wsum_cents,
          |       TRUE AS reclaimed
          |FROM edges
          |WHERE NOT (src = (SELECT min(src) FROM edges)
          |       AND dst = (SELECT min(dst) FROM edges WHERE src = (SELECT min(src) FROM edges)))""".stripMargin))),

    // ---- S21: PRESSURE-TRIGGERED auto-compaction (VERDICT r12 next #1,
    //      the reference's background merger: 75%-full buffer trigger
    //      GraphChiDatabase.scala:852-882, daemon flusher :913-938). A
    //      store opened with autoCompact = true takes three point deletes
    //      and one CDC batch — NO manual compact() anywhere — and the
    //      pressure hook must (a) commit at least one compaction of its
    //      own (version count exceeds the op count) and (b) keep live
    //      tombstone rows at/under the trigger, so serving clients never
    //      hit a budget refusal. The oracle pins the exact final state:
    //      the 3 smallest dsts of the min src deleted, the smallest one
    //      re-inserted through CDC with its original values ----
    ("s21_auto_compact",
      (s: SparkSession, d: String) => {
        val vals = autoCompactResults.computeIfAbsent(
          s"${s.sparkContext.applicationId}|$d", _ => {
            val root = tempDir("graft-s21")
            DurableStore.create(s, Tables.orderEdges(s, d), root)
            val st = new DurableStore(s, root, autoCompact = true,
              autoTombRowTrigger = 2, autoDeltaRowTrigger = 1L << 16,
              autoLiveFileTrigger = 8)
            val v0 = minSrcVal(s, d)
            val dsts = st.read(1).filter(col("src") === v0)
              .select("dst").distinct().orderBy("dst").limit(3)
              .collect().map(_.getLong(0)).toSeq
            val reinsert = st.read(1)
              .filter(col("src") === v0 && col("dst") === dsts.head)
              .localCheckpoint(true)
            var v = 1
            var ops = 1 // the create commit
            dsts.foreach { w => v = st.deleteEdgeTombstone(v, v0, w); ops += 1 }
            v = st.applyCdc(v, reinsert, Seq((v0, dsts(1))), batchId = 0L)
            ops += 1
            val m = st.manifest(st.currentVersion)
            val autoCompacted =
              st.currentVersion > ops && // extra versions = its own compactions
              m.tombs.map(_.rows).sum <= 2 // live tombstones held at the trigger
            val r = reopen(s, st).readLatest()
              .agg(count(lit(1)), sum(cents(col("weight")))).head()
            (r.getLong(0), r.getLong(1), autoCompacted)
          })
        s.range(1).select(lit(vals._1).as("n"),
          lit(vals._2).as("wsum_cents"), lit(vals._3).as("auto_compacted"))
      },
      Some(withSql(Oracle.EDGES,
        """, md AS (SELECT min(src) AS s FROM edges),
          |dd AS (SELECT DISTINCT dst FROM edges WHERE src = (SELECT s FROM md)
          |       ORDER BY dst LIMIT 3),
          |fin AS (
          |  SELECT * FROM edges
          |  WHERE src <> (SELECT s FROM md) OR dst NOT IN (SELECT dst FROM dd)
          |  UNION ALL
          |  SELECT * FROM edges
          |  WHERE src = (SELECT s FROM md) AND dst = (SELECT min(dst) FROM dd))
          |SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(weight AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wsum_cents,
          |       TRUE AS auto_compacted
          |FROM fin""".stripMargin))),

    // ---- S22: STREAMING vertex-property upserts — the online Column.set
    //      feed (reference Column.scala:48-57 under the flusher daemon,
    //      GraphChiDatabase.scala:913-938) as a Structured Streaming
    //      micro-batch pipeline: each batch is ONE idempotent latest-wins
    //      upsert commit (vLastBatch watermark, tracked separately from
    //      the edge batch watermark), compaction folds the deltas back
    //      into the id-sorted base mid-stream, and the final state is
    //      read back through the ZERO-JOB served getMany. Batch 2
    //      overwrites batch 1's row for the min id — the replay pins
    //      latest-wins ACROSS batches, post-compaction ----
    ("s22_streaming_vertex_upsert",
      (s: SparkSession, d: String) => {
        val rows = streamVertexResults.computeIfAbsent(
          s"${s.sparkContext.applicationId}|$d", _ => {
            val root = tempDir("graft-s22")
            // the vertex table rides a store; the EDGE side is not under
            // test here, so a single-row edge base keeps the fixture on
            // the vertex path
            DurableStore.create(s, Tables.orderEdges(s, d).limit(1), root)
            val st = new DurableStore(s, root)
            val props = Tables.vertices(s, d).select(col("id"), col("vtype"),
              col("name"), cents(col("acctbal")).as("acct_cents"))
            st.setVertexTable(1, props)
            val base = Tables.vertices(s, d).select(col("id"), col("vtype"),
              col("name"))
            val ids = base.select("id").orderBy("id").limit(3)
              .collect().map(_.getLong(0))
            val watch = tempDir("graft-s22-feed")
            // batch 1: rewrite the 3 smallest ids' balances
            base.filter(col("id").isin(ids.toSeq: _*))
              .withColumn("acct_cents", col("id") * 100 + 1)
              .coalesce(1).write.parquet(s"$watch/b1.parquet")
            // batch 2: overwrite the min id AGAIN (latest-wins across
            // batches) + insert a brand-new vertex row
            base.filter(col("id") === ids.head)
              .withColumn("acct_cents", lit(55555L))
              .unionByName(s.range(1).select(lit(9100000L).as("id"),
                lit("new").as("vtype"), lit("streamed").as("name"),
                lit(42L).as("acct_cents")))
              .coalesce(1).write.parquet(s"$watch/b2.parquet")
            // pin replay order by mtime (the s20 discipline — ADVICE r12)
            val now = java.nio.file.attribute.FileTime
              .fromMillis(System.currentTimeMillis)
            val earlier = java.nio.file.attribute.FileTime
              .fromMillis(System.currentTimeMillis - 60000)
            Seq((s"$watch/b1.parquet", earlier), (s"$watch/b2.parquet", now))
              .foreach { case (dir, t) =>
                val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
                try walk.forEach(f =>
                  { java.nio.file.Files.setLastModifiedTime(f, t); () })
                finally walk.close()
              }
            val schema = s.read.parquet(s"$watch/b1.parquet").schema
            graft.streaming.OnlineIngest
              .ingestVertexUpserts(s, schema, s"$watch/*", st, compactEvery = 2)
              .awaitTermination()
            val st2 = reopen(s, st)
            val latest = st2.currentVersion
            vertexRowsServedOrJob(s, st2, latest, ids :+ 9100000L)
          })
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, vtype STRING, name STRING, acct_cents BIGINT")
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
      },
      Some(withSql(Oracle.EDGES + ",\n" + Oracle.VERTICES,
        """, ks AS (SELECT id FROM (SELECT DISTINCT id FROM vertices ORDER BY id LIMIT 3))
          |SELECT id, vtype, name,
          |       CASE WHEN id = (SELECT min(id) FROM ks) THEN 55555
          |            ELSE id * 100 + 1 END AS acct_cents
          |FROM vertices WHERE id IN (SELECT id FROM ks)
          |UNION ALL
          |SELECT 9100000 AS id, 'new' AS vtype, 'streamed' AS name, 42 AS acct_cents""".stripMargin))),

    // ---- S5 durable log + compaction: append a micro-batch as a delta
    //      file, compact it into the sorted buckets, read back the merged
    //      store — the LSM merge cycle end-to-end, value-checked ----
    ("s5_durable_append_compact",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val v = minSrcVal(s, d)
        val batch = Tables.orderEdges(s, d).filter(col("src") === v)
        val appended = st.append(1, batch)
        val compacted = st.compact(appended)
        val m = reopen(s, st).manifest(compacted)
        require(m.files.forall(_.sorted), "compaction left delta files behind")
        reopen(s, st).read(compacted)
          .agg(count(lit(1)).as("n"), sum(cents(col("weight"))).as("wsum_cents"))
      },
      Some(withSql(Oracle.EDGES,
        """, aug AS (
          |  SELECT * FROM edges
          |  UNION ALL
          |  SELECT * FROM edges WHERE src = (SELECT min(src) FROM edges))
          |SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(weight AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wsum_cents
          |FROM aug""".stripMargin))),

    // ---- W2 against the durable store: src-range sweep served through
    //      manifest file pruning (readForSrcRange), aggregated — the
    //      interval sweep of w2/w2c on the MUTABLE substrate ----
    ("w2d_sweep_durable_range",
      (s: SparkSession, d: String) => {
        val st = baseStore(s, d)
        val lo = minSrcVal(s, d)
        val hi = lo + 100
        st.readForSrcRange(1, lo, hi)
          .filter(col("src").between(lo, hi))
          .agg(count(lit(1)).as("n"), sum(cents(col("weight"))).as("wsum_cents"))
      },
      Some(withSql(Oracle.EDGES,
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(CAST(weight AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS wsum_cents
          |FROM edges
          |WHERE src BETWEEN (SELECT min(src) FROM edges)
          |              AND (SELECT min(src) FROM edges) + 100""".stripMargin))),

    // ---- C2 end-to-end: streaming ingest → LSM compaction → batch
    //      compute on the drained durable snapshot. The PageRank oracle is
    //      IDENTICAL to c3's — if one streamed edge were lost, duplicated
    //      (idempotency), or mangled by compaction, the fixpoint hash
    //      would diverge ----
    // ---- S7: snapshot isolation + retention, end-to-end on a fresh
    //      store: create v1 → mutate to v2 → read v1 AFTER the v2 commit
    //      (time travel: old versions are immutable) → vacuum v1 → read
    //      v2. The v1 aggregates are collected BEFORE the vacuum and
    //      emitted as literals; `vacuumed` asserts files were physically
    //      dropped AND the v1 manifest is really gone. The reference has
    //      no versioned reads at all — this is the durability surface a
    //      Spark-native store gets from manifest versioning, oracle-checked ----
    ("s7_time_travel_vacuum",
      (s: SparkSession, d: String) => {
        // the full lifecycle (create → mutate → time-travel read of the
        // superseded v1 → vacuum → read v2) runs ONCE per (session,
        // fixture) and destroys v1 by design, so the observed values are
        // cached — repeat invocations in a JVM (dev loops, bench) must
        // neither accumulate orphaned /tmp stores nor re-mutate a store
        // whose v1 is already vacuumed (review r4)
        val vals = s7Results.computeIfAbsent(
          s"${s.sparkContext.applicationId}|$d", _ => {
            val root = tempDir("graft-s7")
            val st = DurableStore.create(s, Tables.nationEdges(s, d), root)
            val v1 = st.currentVersion
            val k = Tables.nationEdges(s, d).agg(min("src")).head().getLong(0)
            val v2 = st.updateEdges(v1, col("src") === k, "etype", lit(7), srcKey = Some(k))
            val r1 = st.read(v1)
              .agg(count(lit(1)).cast("long"), sum("etype").cast("long")).head()
            val dropped = st.vacuum(v2)
            val goneOk = scala.util.Try(st.manifest(v1)).isFailure
            val r2 = reopen(s, st).read(v2)
              .agg(count(lit(1)).cast("long"), sum("etype").cast("long")).head()
            (r1.getLong(0), r1.getLong(1), r2.getLong(0), r2.getLong(1),
              dropped > 0 && goneOk)
          })
        s.range(1).select(
          lit(vals._1).as("n_v1"), lit(vals._2).as("etype_sum_v1"),
          lit(vals._3).as("n_v2"), lit(vals._4).as("etype_sum_v2"),
          lit(vals._5).as("vacuumed"))
      },
      Some(withSql(Oracle.NEDGES,
        """SELECT count(*) AS n_v1, CAST(sum(etype) AS BIGINT) AS etype_sum_v1,
          |       count(*) AS n_v2,
          |       CAST(sum(CASE WHEN src = (SELECT min(src) FROM nedges) THEN 7 ELSE etype END) AS BIGINT) AS etype_sum_v2,
          |       TRUE AS vacuumed
          |FROM nedges""".stripMargin))),

    ("s6_continuous_pagerank",
      (s: SparkSession, d: String) => {
        val root = ingestedStoreRoot(s, d)
        val m = new DurableStore(s, root)
        PageRank.top20(m.read(m.currentVersion), iters = 3)
      },
      Some(PageRank.oracleSql(3))),
  )
}
