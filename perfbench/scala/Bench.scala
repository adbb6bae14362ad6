package perfbench

import graft.{DurableStore, PageRank, Queries, Traversals}
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import org.apache.spark.graftdev.ListenerDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One closed-loop client driving a fixed, seed-derived op schedule
  * against a `DurableStore`, checking every answer against [[Model]].
  *
  * Usage: Bench --workload serve_read|serve_mixed|batch_analytics
  *   --seed N --seconds S --trace 0|1 --work DIR [--report FILE] [--small]
  *
  * The schedule length is `S` times a fixed nominal rate, so a run is a
  * fixed op count (a function of seed and S), never a time window. The
  * last stdout line is the result object; `--report` also writes the
  * answer digest and every count, for the determinism self-test. */
object Bench {
  val Schema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("etype", ByteType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("weight", FloatType, nullable = false)))

  final case class Size(vertices: Int, edges: Int)
  val FullSize = Size(16384, 131072)
  val SmallSize = Size(1024, 6144)

  /** Set-up repetitions per run; setup_s is their median. */
  val SetupReps = 3
  /** Untimed warm-up prefix of the serving schedule. */
  val WarmOps = 60
  /** Nominal ops per second of `--seconds`, per serving workload. */
  val ServeReadRate = 35
  val ServeMixedRate = 8
  /** Every WriteEvery-th op of serve_mixed is a mutation. */
  val WriteEvery = 10
  val AppendEdges = 16
  /** Live delta + tombstone files past which `compactIfPressured` compacts
    * (what a store built with `autoLiveFileTrigger = 8` runs after each
    * mutation), sized so every serve_mixed run compacts in its timed
    * phase. The row triggers keep their defaults. */
  val LiveFileTrigger = 8
  /** Timed batch rounds (each runs all four calls) per `--seconds`. */
  val BatchSecondsPerRound = 6
  val PageRankIters = 2
  /** CC round cap: below convergence on these graphs, so every seed runs
    * the same number of supersteps. */
  val CcIters = 3
  val BfsSources = 4
  val BfsDepth = 2
  val PathDepth = 6
  val TopK = 20

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, report: Option[String], small: Boolean)

  def parse(argv: Array[String]): Conf = {
    val kv = mutable.HashMap.empty[String, String]
    var small = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--small" => small = true; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k.drop(2)) = argv(i + 1); i += 2
        case k => throw new IllegalArgumentException(s"unexpected argument $k")
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("serve_read", "serve_mixed", "batch_analytics")(w), s"unknown workload $w")
    val t = need("trace")
    require(t == "0" || t == "1", "--trace takes 0 or 1")
    Conf(w, need("seed").toLong, math.max(1, need("seconds").toInt), t == "1",
      need("work"), kv.get("report"), small)
  }

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkS = (System.nanoTime() - t0) / 1e9
    val result = try new Run(c, spark, cores, sparkS).run() finally {
      val t = System.nanoTime()
      spark.stop()
      System.err.println(f"perfbench: spark stopped in ${(System.nanoTime() - t) / 1e9}%.1f s")
    }
    println(result)
    System.out.flush()
  }

  /** Median, the mean of the middle two on an even count; 0 when empty. */
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean: each op kind's median weighs the same, whatever its
    * share of the schedule or its scale. */
  def geoMean(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile; 0 on an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Bytes of the regular files under `p` (a file or a directory). */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def localPath(uri: String): Path =
    if (uri.startsWith("file:")) Paths.get(new java.net.URI(uri)) else Paths.get(uri)

  /** A row as "Class=value" cells: equality means whole-row, type-equal. */
  def typedKey(r: Seq[Any]): String = r.map(typedCell).mkString(",")

  def typedCell(x: Any): String = if (x == null) "null" else s"${x.getClass.getSimpleName}=$x"

  /** A row by numeric value only, to tell a type-only mismatch apart. */
  def valueKey(r: Seq[Any]): String = r.map {
    case n: java.lang.Number => new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
    case x => String.valueOf(x)
  }.mkString(",")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_geo_ms" -> "ms",
    "store_bytes_per_edge" -> "B")

  val ReadKinds = Seq("point", "hop", "fof", "path")
  val WriteKinds = Seq("append", "tomb", "update")
  val BatchKinds = Seq("pagerank", "cc", "bfs", "fof_scan")
  val Sites: Seq[String] = "serve" +: (WriteKinds :+ "compact") ++: BatchKinds

  val PerLayer: Seq[(String, String)] =
    Seq("setup.spark_s", "setup.generate_s", "setup.create_s", "setup.mirror_s",
      "setup.warm_s").map(_ -> "s") ++
    ReadKinds.map(k => s"read.${k}_p50_ms" -> "ms") ++
    Seq("read.p99_ms" -> "ms", "read.ops_per_s" -> "1/s",
      "serve.manifest_ms" -> "ms", "serve.fof_hop1_ms" -> "ms", "serve.fof_hop2_ms" -> "ms",
      "serve.files_routed" -> "count", "serve.rows_out" -> "count",
      "serve.live_delta_rows" -> "rows", "serve.live_tomb_rows" -> "rows") ++
    ReadKinds.map(k => s"serve.refused.$k" -> "count") ++
    ReadKinds.map(k => s"serve.wrong.$k" -> "count") ++
    Seq("serve.wrong_type.point" -> "count",
      "write.p50_ms" -> "ms", "write.p95_ms" -> "ms", "write.ingest_edges_per_s" -> "1/s") ++
    WriteKinds.map(k => s"write.${k}_ms" -> "ms") ++
    Seq("write.commits" -> "count", "write.failed" -> "count",
      "write.bytes_per_user_byte" -> "ratio",
      "compact.runs" -> "count", "compact.s" -> "s", "compact.bytes_rewritten" -> "B") ++
    BatchKinds.map(k => s"batch.${k}_s" -> "s") ++
    Seq("batch.wrong" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.planning_ms" -> "ms", "spark.driver_s" -> "s", "spark.task_run_s" -> "s",
      "spark.task_cpu_s" -> "s", "spark.shuffle_bytes" -> "B", "spark.input_bytes" -> "B") ++
    Sites.map(s => s"spark.jobs.$s" -> "count") ++
    Seq("jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "jvm.heap_live_mb" -> "MB",
      "trace.ops_per_s" -> "1/s", "trace.p50_geo_ms" -> "ms",
      "trace.spans" -> "count", "trace.overhead_pct" -> "%", "trace.probe_s" -> "s",
      "self.client_s" -> "s", "self.store_s" -> "s", "self.batch_driver_s" -> "s",
      "self.spark_jobs_s" -> "s")

  final class Run(c: Conf, spark: SparkSession, cores: Int, sparkS: Double) {
    private val size = if (c.small) SmallSize else FullSize
    private val tracer = new Tracer(c.trace)
    private val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(stats)
    private val sc = spark.sparkContext
    private val m = mutable.LinkedHashMap.empty[String, Double]
    private val model = new Model
    private val digest = java.security.MessageDigest.getInstance("SHA-256")
    private val rng = new SplittableRandom(c.seed * 0x9E3779B97F4A7C15L + 7)
    private var keys: Gen.Skewed = _
    private var store: DurableStore = _
    private var root: String = _
    private var version = 0
    private var attempted = 0L
    private var failed = 0L
    private val problems = mutable.ArrayBuffer.empty[String]
    private val count = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    private val lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    private var instrNs = 0L // time spent on trace-only probes, not on the ops
    private var timing = false
    private var opNo = 0
    private val jobNsBySpan = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    private var driverNs = 0.0
    private val touchedSrcs = mutable.HashSet.empty[Long]

    private def sample(k: String, v: Double): Unit =
      if (timing) lat.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    private def p50(k: String): Double = median(lat.getOrElse(k, Nil).toSeq)
    private def bump(k: String, by: Double = 1.0): Unit = if (timing) count(k) += by

    private def group(site: String): Unit = {
      sc.setJobGroup(site, site)
      stats.site = site
    }
    private def drain(): Unit = ListenerDrain.drain(sc, 60000L)

    private def answer(kind: String, s: String): Unit =
      digest.update(s"$opNo|$kind|$s\n".getBytes("UTF-8"))

    /** Counts one checked op; wrong answers, refusals and throws fail it. */
    private def outcome(kind: String, o: String): Unit = {
      attempted += 1
      if (o != "ok") {
        failed += 1
        bump(s"$kind.$o")
        if (o == "wrong") problems += s"op $opNo ($kind) answered wrong"
      }
    }

    private val born = System.nanoTime()
    private def phase(name: String): Unit =
      System.err.println(f"perfbench: $name done at ${(System.nanoTime() - born) / 1e9}%.1f s" +
        f" (answer checks so far ${checkNs / 1e9}%.1f s)")
    private var checkNs = 0L

    def run(): String = {
      m("setup.spark_s") = sparkS
      setup()
      phase("setup")
      c.workload match {
        case "serve_read" => serve(mixed = false)
        case "serve_mixed" => serve(mixed = true); phase("ops"); reopenCheck()
        case "batch_analytics" => batch()
      }
      phase("workload")
      try finish() finally phase("result")
    }

    /** Space and live heap at the end of the timed phase. */
    private def measureEnd(): Unit = {
      m("store_bytes_per_edge") = liveBytes(store.manifest(version)).toDouble / model.liveRows
      // Spark frees unreferenced blocks asynchronously after a GC finds
      // them, so collect until the live heap settles
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      def usedMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      var prev = 0.0
      var now = usedMb
      var i = 0
      do {
        prev = now
        System.gc()
        Thread.sleep(100)
        now = usedMb
        i += 1
      } while (i < 6 && math.abs(prev - now) > 0.5)
      m("jvm.heap_live_mb") = now
    }

    // ---- set-up ----------------------------------------------------------

    private def setup(): Unit = {
      group("setup")
      val reps = (0 until SetupReps).map { i =>
        val dir = s"${c.work}/store-$i"
        val t0 = System.nanoTime()
        val edges = Gen.graph(c.seed, size.vertices, size.edges)
        val t1 = System.nanoTime()
        val df = spark.createDataFrame(edges.toSeq.map(toRow).asJava, Schema)
        val s = DurableStore.create(spark, df, dir, numBuckets = 8)
        val t2 = System.nanoTime()
        val v = s.buildInEdgeIndex(s.currentVersion)
        val t3 = System.nanoTime()
        s.warmServing(v)
        val t4 = System.nanoTime()
        if (i < SetupReps - 1) deleteTree(Paths.get(dir))
        else {
          store = s; root = dir; version = v; edges.foreach(model.add)
        }
        val r = Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3, t4 - t0).map(_ / 1e9)
        System.err.println(s"perfbench: setup rep $i (generate, create, mirror, warm, total) s: " +
          r.map(x => f"$x%.2f").mkString(", "))
        r
      }
      def med(i: Int) = median(reps.map(_(i)))
      m("setup_s") = med(4)
      Seq("generate", "create", "mirror", "warm").zipWithIndex.foreach { case (n, i) =>
        m(s"setup.${n}_s") = med(i)
      }
      drain()
      keys = new Gen.Skewed(size.vertices, 1.0, rng)
    }

    private def toRow(e: Edge): Row = Row(e.src, e.dst, e.etype, e.ts, e.weight)

    private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

    private def livePaths(mf: DurableStore.Manifest): Seq[String] =
      ((mf.files ++ mf.mirror).map(_.path) ++ mf.tombs.map(_.path)).distinct

    private def liveBytes(mf: DurableStore.Manifest): Long =
      livePaths(mf).map(p => bytesUnder(localPath(p))).sum

    // ---- serving ---------------------------------------------------------

    private def serve(mixed: Boolean): Unit = {
      val nTimed = c.seconds * (if (mixed) ServeMixedRate else ServeReadRate)
      val readBlock = Seq.fill(8)("point") ++ Seq.fill(5)("hop") ++ Seq.fill(4)("fof") ++
        Seq.fill(3)("path")
      val reads = Iterator.continually(shuffle(readBlock)).flatten
      val writes = Iterator.continually(shuffle(WriteKinds)).flatten
      val recent = mutable.Queue.empty[Long]
      def key(): Long =
        if (mixed && recent.nonEmpty && rng.nextBoolean()) recent(rng.nextInt(recent.size))
        else keys.next(rng)
      var jobs0 = 0L
      for (i <- 0 until WarmOps + nTimed) {
        if (i == WarmOps) {
          drain()
          jobs0 = siteJobs("serve")
          timing = true
          gcMark()
          baseline = sparkVec()
        }
        opNo = i
        if (mixed && i % WriteEvery == WriteEvery - 1) {
          val touched = write(writes.next())
          touched.foreach { k => recent.enqueue(k); if (recent.size > 32) recent.dequeue() }
        } else read(reads.next(), key)
      }
      measureEnd()
      drain()
      sparkTotals()
      gcDelta()
      val nReads = ReadKinds.map(k => lat.getOrElse(s"read.$k", Nil).size).sum
      // both over every attempt, whatever its outcome, so what they cover
      // never depends on which ops succeed; writes (a few samples per kind)
      // weigh in through ops_per_s and the write.* layer metrics
      m("ops_per_s") = nTimed / (count("op_ns") / 1e9)
      m("p50_geo_ms") = geoMean(ReadKinds.map(k => p50(s"read.$k")))
      ReadKinds.foreach(k => m(s"read.${k}_p50_ms") = p50(s"read.$k"))
      m("read.p99_ms") = pct(ReadKinds.flatMap(k => lat.getOrElse(s"read.$k", Nil)), 0.99)
      m("read.ops_per_s") = nReads / (ReadKinds.flatMap(k => lat.getOrElse(s"read.$k", Nil)).sum / 1e3)
      val readJobs = siteJobs("serve") - jobs0
      if (readJobs != 0)
        problems += s"zero-job guard: served reads launched $readJobs Spark jobs"
      if (mixed) {
        m("write.p50_ms") = p50("write")
        m("write.p95_ms") = pct(lat.getOrElse("write", Nil).toSeq, 0.95)
        WriteKinds.foreach(k => m(s"write.${k}_ms") = p50(s"write.$k"))
        val appendS = lat.getOrElse("write.append.total", Nil).sum / 1e3
        m("write.ingest_edges_per_s") = if (appendS > 0) count("appended") / appendS else 0.0
      }
    }

    private def shuffle[A: scala.reflect.ClassTag](xs: Seq[A]): Seq[A] = {
      val a = xs.toArray
      var i = a.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toSeq
    }

    private def read(kind: String, key: () => Long): Unit = {
      val v = version
      val args: Array[Long] = kind match {
        case "point" | "fof" => Array(key())
        case "hop" => Iterator.continually(key()).distinct.take(4).toArray
        case "path" => Array(key(), key())
      }
      group("serve")
      var latNs = 0L
      val res = tracer(s"op.$kind") {
        val mf = if (c.trace) Some(probeManifest(v)) else None
        val t0 = System.nanoTime()
        val r =
          try Right(kind match {
            case "point" => tracer("DurableStore.servedOutRows")(store.servedOutRows(v, args))
            case "hop" => tracer("DurableStore.servedNeighbors")(store.servedNeighbors(v, args))
            case "fof" => tracer("DurableStore.servedFofRows")(store.servedFofRows(v, args(0), TopK))
            case "path" => tracer("DurableStore.servedShortestPath")(
              store.servedShortestPath(v, args(0), args(1), PathDepth))
          })
          catch { case NonFatal(e) => Left(e) }
        latNs = System.nanoTime() - t0
        if (c.trace && kind == "fof") probeFofHops(args(0), v)
        (mf, r)
      } match { case (mf, r) => mf.foreach(routing(kind, args, _)); r }
      sample(s"read.$kind", latNs / 1e6)
      bump("op_ns", latNs.toDouble)
      val tc = System.nanoTime()
      outcome(kind, res match {
        case Left(e) => answer(kind, s"threw ${e.getClass.getName}"); "failed"
        case Right(None) => answer(kind, "refused"); "refused"
        case Right(Some(a)) => checkRead(kind, args, a)
      })
      checkNs += System.nanoTime() - tc
    }

    /** Routing and LSM gauges of one read, from the public manifest. */
    private def probeManifest(v: Int): DurableStore.Manifest = {
      val t0 = System.nanoTime()
      val mf = tracer("DurableStore.manifest")(store.manifest(v))
      val t1 = System.nanoTime()
      sample("serve.manifest", (t1 - t0) / 1e6)
      instrNs += t1 - t0
      mf
    }

    private def routing(kind: String, args: Array[Long], mf: DurableStore.Manifest): Unit = {
      val ks = (if (kind == "fof") args ++ model.fof(args(0), TopK)._1 else args).distinct.sorted
      def covers(lo: Long, hi: Long) = ks.exists(k => k >= lo && k <= hi)
      val outHit = mf.files.count(f => covers(f.srcMin, f.srcMax))
      val inHit = if (kind == "point") 0
        else (mf.mirror ++ mf.files.filterNot(_.sorted)).count(f => covers(f.dstMin, f.dstMax))
      bump("serve.files_routed", outHit + inHit)
      bump("serve.live_delta_rows", mf.files.filterNot(_.sorted).map(_.rows).sum.toDouble)
      bump("serve.live_tomb_rows", mf.tombs.map(_.rows).sum.toDouble)
      bump("serve.reads")
    }

    /** The served FoF split into its two hops, timed on their own. */
    private def probeFofHops(v0: Long, v: Int): Unit = {
      val t0 = System.nanoTime()
      val mids = tracer("DurableStore.servedNeighbors.hop1")(store.servedNeighbors(v, Array(v0)))
      val t1 = System.nanoTime()
      mids.foreach(ms => tracer("DurableStore.servedNeighbors.hop2")(
        store.servedNeighbors(v, ms.distinct)))
      val t2 = System.nanoTime()
      sample("serve.fof_hop1", (t1 - t0) / 1e6)
      sample("serve.fof_hop2", (t2 - t1) / 1e6)
      instrNs += t2 - t0
    }

    private def checkRead(kind: String, args: Array[Long], a: Any): String = kind match {
      case "point" =>
        val got = a.asInstanceOf[Seq[Seq[Any]]]
        val want = model.outRows(args(0)).map(_.typedRow)
        bump("serve.rows_out", got.size)
        answer(kind, got.map(typedKey).sorted.mkString(";"))
        if (got.map(typedKey).sorted == want.map(typedKey).sorted) "ok"
        else if (got.map(valueKey).sorted == want.map(valueKey).sorted) "wrong_type"
        else "wrong"
      case "hop" =>
        val got = a.asInstanceOf[Array[Long]].sorted
        bump("serve.rows_out", got.length)
        answer(kind, got.mkString(","))
        if (got.sameElements(model.neighbors(args.toSeq).sorted)) "ok" else "wrong"
      case "fof" =>
        val got = a.asInstanceOf[Seq[(Long, Long)]]
        bump("serve.rows_out", got.size)
        answer(kind, got.mkString(","))
        if (got == model.fof(args(0), TopK)._2) "ok" else "wrong"
      case "path" =>
        val got = a.asInstanceOf[Option[Long]]
        bump("serve.rows_out")
        answer(kind, got.toString)
        if (got == model.shortestPath(args(0), args(1), PathDepth)) "ok" else "wrong"
    }

    /** One mutation and its compactIfPressured — the call `autoCompact`
      * makes — timed together. Returns the endpoints it touched. */
    private def write(kind: String): Seq[Long] = {
      val v0 = version
      var appended = Seq.empty[Edge]
      var pair = (0L, 0L)
      var w = 0f
      kind match {
        case "append" =>
          appended = Seq.fill(AppendEdges) {
            val s = keys.next(rng)
            var d = keys.next(rng)
            while (d == s) d = keys.next(rng)
            Gen.edge(rng, s, d, size.edges.toLong + opNo)
          }
        case _ =>
          pair = model.samplePair(rng).get
          w = rng.nextInt(1 << 16) / 256f
      }
      val batchDf =
        if (kind == "append") spark.createDataFrame(appended.map(toRow).asJava, Schema) else null
      val bytes0 = if (c.trace) bytesUnder(Paths.get(root)) else 0L
      val vec0 = sparkVec()
      val jobs0 = jobCount()
      val call = "DurableStore." + (kind match {
        case "append" => "append"; case "tomb" => "deleteEdgeTombstone"
        case "update" => "updateEdgeDelta" })
      val t0 = System.nanoTime()
      val nv =
        try {
          group(kind)
          Right(tracer(s"op.$kind") {
            tracer(call) {
              kind match {
                case "append" => store.append(v0, batchDf)
                case "tomb" => store.deleteEdgeTombstone(v0, pair._1, pair._2)
                case "update" => store.updateEdgeDelta(v0, pair._1, pair._2, "weight", lit(w))
              }
            }
          })
        } catch { case NonFatal(e) => Left(e) }
      val t1 = System.nanoTime()
      var t2 = t1
      var cv = v0
      var compacted = false
      nv match {
        case Left(e) =>
          answer(kind, s"threw ${e.getClass.getName}")
          outcome(kind, "failed")
          bump("write.failed")
        case Right(nv) =>
          group("compact")
          cv = tracer("DurableStore.compactIfPressured")(
            store.compactIfPressured(nv, liveFileTrigger = LiveFileTrigger))
          t2 = System.nanoTime()
          answer(kind, s"v$nv c$cv")
          outcome(kind, "ok")
          bump("write.commits", (if (nv != v0) 1 else 0) + (if (cv != nv) 1 else 0))
          kind match {
            case "append" => appended.foreach(model.add); bump("appended", appended.size)
            case "tomb" => model.deletePair(pair._1, pair._2)
            case "update" => if (nv != v0) model.updateWeight(pair._1, pair._2, w)
          }
          compacted = cv != nv
          if (compacted) { bump("compact.runs"); bump("compact.s", (t2 - t1) / 1e9) }
          touchedSrcs ++= (if (kind == "append") appended.map(_.src) else Seq(pair._1))
          version = cv
      }
      // per-kind latency covers every attempt; the pooled write latency
      // only acknowledged mutations, so a fast refusal cannot lower it
      sample(s"write.$kind", (t1 - t0) / 1e6)
      bump("op_ns", (t2 - t0).toDouble)
      if (nv.isRight) sample("write", (t2 - t0) / 1e6)
      if (kind == "append" && nv.isRight) sample("write.append.total", (t2 - t0) / 1e6)
      drain()
      chargeJobs(jobs0, vec0, t2 - t0,
        Map(kind -> call, "compact" -> "DurableStore.compactIfPressured"))
      if (c.trace) {
        val t3 = System.nanoTime()
        bump("write.bytes_written", (bytesUnder(Paths.get(root)) - bytes0).toDouble)
        // user bytes: 29 per appended row (src, dst, ts 8 B each, weight
        // 4 B, etype 1 B), 16 per deleted or updated (src, dst) pair
        if (nv.isRight) bump("write.user_bytes", if (kind == "append") appended.size * 29.0 else 16.0)
        for (n <- nv.toOption if compacted) {
          val before = livePaths(store.manifest(n)).toSet
          bump("compact.bytes_rewritten",
            livePaths(store.manifest(cv)).filterNot(before).map(p => bytesUnder(localPath(p))).sum.toDouble)
        }
        instrNs += System.nanoTime() - t3
      }
      stats.site = "none"
      if (kind == "append") appended.flatMap(e => Seq(e.src, e.dst)) else Seq(pair._1, pair._2)
    }

    // ---- batch -----------------------------------------------------------

    private def batch(): Unit = {
      val rounds = math.max(1, c.seconds / BatchSecondsPerRound)
      val sources = Iterator.continually(keys.next(rng)).distinct.take(BfsSources).toSeq.sorted
      val srcSchema = StructType(Seq(StructField("source", LongType), StructField("id", LongType)))
      val srcDf = spark.createDataFrame(sources.map(s => Row(s, s)).asJava, srcSchema)
      val want = mutable.HashMap.empty[String, Seq[Seq[Long]]]
      def reference(kind: String): Seq[Seq[Long]] =
        want.getOrElseUpdate(kind, kind match {
          case "pagerank" => model.pagerankTop20(PageRankIters).map(x => Seq(x._1, x._2))
          case "cc" => model.ccLabels(CcIters).map(x => Seq(x._1, x._2))
          case "bfs" => model.bfs(sources, BfsDepth).map(x => Seq(x._1, x._2, x._3))
          case "fof_scan" => model.fofScanTop20.map(x => Seq(x._1, x._2))
        })
      // one untimed warm-up round with the timed plans (Spark caches their
      // generated code), then the timed rounds, each kind's latency the
      // median over them; the call order is fixed, since a call's time
      // depends on the one before it
      for (r <- 0 until 1 + rounds) {
        if (r == 1) { drain(); timing = true; gcMark(); baseline = sparkVec() }
        BatchKinds.foreach { kind =>
          opNo += 1
          val (name, f) = kind match {
            case "pagerank" => ("PageRank.top20", (e: DataFrame) => PageRank.top20(e, PageRankIters))
            case "cc" => ("Traversals.connectedComponents",
              (e: DataFrame) => Traversals.connectedComponents(e, CcIters))
            case "bfs" => ("Traversals.bfsDistances",
              (e: DataFrame) => Traversals.bfsDistances(e, srcDf, BfsDepth))
            case "fof_scan" => ("Queries.friendsOfFriendsExclTop20",
              (e: DataFrame) => Queries.friendsOfFriendsExclTop20(e))
          }
          val vec0 = sparkVec()
          val jobs0 = jobCount()
          group(kind)
          val start = System.nanoTime()
          val rows = tracer(s"op.$kind") {
            tracer(name) {
              val e = tracer("DurableStore.read")(store.read(version))
              f(e).collect().toSeq
            }
          }
          val ns = System.nanoTime() - start
          sample(s"batch.$kind", ns / 1e9)
          bump("op_ns", ns.toDouble)
          drain()
          chargeJobs(jobs0, vec0, ns, Map(kind -> name))
          stats.site = "none"
          val tc = System.nanoTime()
          val got = rows.map(r => r.toSeq.map(_.asInstanceOf[Long]))
          val unordered = kind == "cc" || kind == "bfs"
          def canon(x: Seq[Seq[Long]]) = if (unordered) x.sortBy(_.mkString(",")) else x
          val ok = canon(got) == canon(reference(kind))
          answer(kind, canon(got).map(_.mkString(":")).mkString(","))
          if (!ok) bump("batch.wrong")
          outcome(kind, if (ok) "ok" else "wrong")
          checkNs += System.nanoTime() - tc
        }
      }
      measureEnd()
      sparkTotals()
      gcDelta()
      m("ops_per_s") = BatchKinds.map(k => lat.getOrElse(s"batch.$k", Nil).size).sum /
        (count("op_ns") / 1e9)
      m("p50_geo_ms") = geoMean(BatchKinds.map(k => p50(s"batch.$k") * 1e3))
      BatchKinds.foreach(k => m(s"batch.${k}_s") = p50(s"batch.$k"))
    }

    // ---- reopen ----------------------------------------------------------

    /** A fresh handle on the same root must show every acknowledged
      * mutation, through `read(currentVersion)` and the served calls. */
    private def reopenCheck(): Unit = {
      val fresh = new DurableStore(spark, root)
      val cv = fresh.currentVersion
      group("reopen")
      def multiset(rows: Iterator[Edge]) = {
        val ms = mutable.HashMap.empty[Edge, Int]
        rows.foreach(r => ms(r) = ms.getOrElse(r, 0) + 1)
        ms
      }
      // the typed getters throw on a column of another type: whole-row,
      // type-equal against the store schema
      val stored = multiset(fresh.read(cv).collect().iterator.map(r =>
        Edge(r.getLong(0), r.getLong(1), r.getByte(2), r.getLong(3), r.getFloat(4))))
      val modeled = multiset(model.edges)
      val servedOk = touchedSrcs.toSeq.sorted.forall { k =>
        fresh.servedOutNeighbors(cv, Array(k)).map(_.sorted.toSeq) ==
          Some(model.outRows(k).map(_.dst).sorted)
      }
      attempted += 1
      if (cv != version || stored != modeled || !servedOk) {
        failed += 1
        problems += s"reopen check: version $cv vs $version, read(v) rows " +
          s"${if (stored == modeled) "match" else "differ"}, served " +
          s"${if (servedOk) "match" else "differ"}"
      }
      drain()
    }

    // ---- Spark and JVM accounting ---------------------------------------

    private var baseline: Map[String, Array[Double]] = Map.empty
    private var gc0 = (0L, 0L)

    private def vec(s: SparkStats#Site): Array[Double] =
      Array(s.jobs, s.stages, s.tasks, s.taskRunMs, s.taskCpuNs, s.shuffleBytes, s.inputBytes,
        s.planningMs).map(_.toDouble)

    private def sparkVec(): Map[String, Array[Double]] =
      stats.snapshot.map { case (k, s) => k -> vec(s) }

    private def siteJobs(site: String): Long =
      stats.snapshot.get(site).map(_.jobs).getOrElse(0L)

    private def jobCount(): Map[String, Int] =
      stats.snapshot.map { case (k, s) => k -> s.jobSpans.size }

    /** Charges the Spark jobs an op launched to the call span that
      * launched them (`spanOf` maps job group to span name), and the op's
      * driver-side time (wall minus task time over slots) to the op. */
    private def chargeJobs(jobs0: Map[String, Int], vec0: Map[String, Array[Double]],
                           wallNs: Long, spanOf: Map[String, String]): Unit = {
      val now = stats.snapshot
      val taskMs = now.toSeq.map { case (k, s) =>
        vec(s)(3) - vec0.get(k).map(_(3)).getOrElse(0.0) }.sum
      if (timing) driverNs += wallNs - taskMs * 1e6 / cores
      if (c.trace) now.foreach { case (site, s) =>
        val jobs = s.jobSpans.drop(jobs0.getOrElse(site, 0))
        val merged = jobs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
          case ((a, b) :: t, (s0, e)) if s0 <= b => (a, math.max(b, e)) :: t
          case (acc, iv) => iv :: acc
        }
        val ns = merged.map { case (a, b) => (b - a) * 1000000L }.sum
        for (name <- spanOf.get(site); sp <- tracer.spans.reverseIterator.find(_.name == name))
          jobNsBySpan(sp.id) += ns
      }
    }

    private def sparkTotals(): Unit = {
      drain()
      val now = sparkVec()
      val names = Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_bytes",
        "input_bytes", "planning_ms")
      val scale = Seq(1.0, 1.0, 1.0, 1e-3, 1e-9, 1.0, 1.0, 1.0)
      val delta = now.map { case (k, a) =>
        k -> a.indices.map(i => a(i) - baseline.get(k).map(_(i)).getOrElse(0.0)) }
      names.indices.foreach { i =>
        m(s"spark.${names(i)}") = delta.values.map(_(i)).sum * scale(i)
      }
      Sites.foreach(s => m(s"spark.jobs.$s") = delta.get(s).map(_(0)).getOrElse(0.0))
      m("spark.driver_s") = driverNs / 1e9
    }

    private def gcNow: (Long, Long) = {
      val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (bs.map(_.getCollectionCount).sum, bs.map(_.getCollectionTime).sum)
    }
    private def gcMark(): Unit = gc0 = gcNow
    private def gcDelta(): Unit = {
      val (n, ms) = gcNow
      m("jvm.gc_count") = (n - gc0._1).toDouble
      m("jvm.gc_s") = (ms - gc0._2) / 1e3
    }

    // ---- result ----------------------------------------------------------

    private def finish(): String = {
      timing = false
      val perSpanNs = tracer.calibrate(20000)
      val spanCount = tracer.spans.size
      ReadKinds.foreach { k =>
        m(s"serve.refused.$k") = count(s"$k.refused")
        m(s"serve.wrong.$k") = count(s"$k.wrong")
      }
      m("serve.wrong_type.point") = count("point.wrong_type")
      m("serve.manifest_ms") = p50("serve.manifest")
      m("serve.fof_hop1_ms") = p50("serve.fof_hop1")
      m("serve.fof_hop2_ms") = p50("serve.fof_hop2")
      Seq("files_routed", "rows_out").foreach(k => m(s"serve.$k") = count(s"serve.$k"))
      val reads = math.max(1.0, count("serve.reads"))
      m("serve.live_delta_rows") = count("serve.live_delta_rows") / reads
      m("serve.live_tomb_rows") = count("serve.live_tomb_rows") / reads
      Seq("write.commits", "write.failed", "compact.runs", "compact.s",
        "compact.bytes_rewritten").foreach(k => m(k) = count(k))
      m("write.bytes_per_user_byte") =
        if (count("write.user_bytes") > 0) count("write.bytes_written") / count("write.user_bytes")
        else 0.0
      // the traced run's end-to-end figures: against the untraced run of
      // the same seed they give the whole cost of tracing, probes included
      m("trace.ops_per_s") = m.getOrElse("ops_per_s", 0.0)
      m("trace.p50_geo_ms") = m.getOrElse("p50_geo_ms", 0.0)
      m("trace.spans") = spanCount
      val self = tracer.selfTimes(jobNsBySpan)
      def selfOf(p: String => Boolean) = self.filter(r => p(r._1)).map(_._4).sum
      m("self.client_s") = selfOf(_.startsWith("op."))
      m("self.store_s") = selfOf(_.startsWith("DurableStore."))
      m("self.batch_driver_s") =
        selfOf(n => Seq("PageRank.", "Traversals.", "Queries.").exists(n.startsWith))
      m("self.spark_jobs_s") = jobNsBySpan.values.sum / 1e9
      val opsNs = self.filter(_._1.startsWith("op.")).map(_._3).sum * 1e9 - instrNs
      m("trace.overhead_pct") = if (c.trace && opsNs > 0) 100.0 * spanCount * perSpanNs / opsNs else 0.0
      m("trace.probe_s") = instrNs / 1e9
      if (c.trace) {
        System.err.println(f"per-layer self time (${c.workload}, seed ${c.seed}):")
        System.err.println(f"  ${"layer"}%-40s ${"calls"}%8s ${"total_s"}%10s ${"self_s"}%10s")
        self.foreach { case (n, k, tot, s) => System.err.println(f"  $n%-40s $k%8d $tot%10.4f $s%10.4f") }
        System.err.println(f"  ${"spark.jobs (other threads)"}%-40s ${""}%8s ${""}%10s ${m("self.spark_jobs_s")}%10.4f")
        System.err.println(f"  span recording: ${m("trace.overhead_pct")}%.3f%% of op time " +
          f"($spanCount spans at ${perSpanNs}%.0f ns each, a lower bound); trace-only probe " +
          f"calls, outside the timed calls: ${instrNs / 1e9}%.3f s")
        System.err.println(f"  traced end-to-end: ops_per_s ${m("trace.ops_per_s")}%.4f, " +
          f"p50_geo_ms ${m("trace.p50_geo_ms")}%.4f; the tracing overhead is these against " +
          "the --trace 0 run of the same seed")
      }
      problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
      val correct = problems.isEmpty
      val shown = if (c.trace) PerLayer else EndToEnd
      val metrics = shown.map { case (k, u) =>
        val v = m.getOrElse(k, 0.0)
        s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ")
      val hex = digest.digest().map("%02x".format(_)).mkString
      c.report.foreach { f =>
        val all = (EndToEnd ++ PerLayer).map { case (k, _) => s""""$k": ${num(m.getOrElse(k, 0.0))}""" }
        Files.write(Paths.get(f), (s"""{"digest": "$hex", "attempted": $attempted, """ +
          s""""failed": $failed, "correct": $correct, "metrics": {${all.mkString(", ")}}}""" + "\n")
          .getBytes("UTF-8"))
      }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}"""
    }

    private def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  }
}
