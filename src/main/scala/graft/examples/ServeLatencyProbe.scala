package graft.examples

import graft._
import org.apache.spark.sql.SparkSession

/** Phase-level latency breakdown of the driver-local served FoF
  * ([[DurableStore.servedFof]]'s zero-job path) — the measurement loop
  * behind the serving-budget choices (VERDICT r10 next #1: ≤100 ms at
  * sf0.1/sf1). Times each phase over N iterations and prints medians:
  *
  *   manifest   manifest file read + parse
  *   hop1       single-key servedNeighbors: manifest load + routing +
  *              primary+mirror driver read (both directions, one pool
  *              round)
  *   hop2       multi-key servedNeighbors over the mids (both directions)
  *   topk       driver hash-map count + top-k
  *   result     LocalRelation createDataFrame + collect
  *   total      one whole servedFof call
  *   rows       one whole servedFofRows call (the online-client entry —
  *              same legs as total minus the DataFrame wrap/collect)
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.examples.ServeLatencyProbe
  *          [iters] [clients]
  */
object ServeLatencyProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.headOption.map(_.toInt).getOrElse(30)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val st = registry.DurableQueries.baseStore(spark, dir)
    val vm = registry.DurableQueries.mirrorVersion(spark, dir)
    val v0 = st.minEndpoint(vm).get
    st.servedFof(vm, v0).collect() // warm: classloading, footer cache

    def medianMs(ns: Seq[Long]): Double = {
      val s = ns.sorted; s(s.size / 2) / 1e6
    }
    val (tMan, tH1, tH2, tTopk, tRes, tTot) =
      (Array.ofDim[Long](iters), Array.ofDim[Long](iters), Array.ofDim[Long](iters),
        Array.ofDim[Long](iters), Array.ofDim[Long](iters), Array.ofDim[Long](iters))
    val tRows = Array.ofDim[Long](iters)
    var checksum = 0L
    for (i <- 0 until iters) {
      var t0 = System.nanoTime()
      val m = st.manifest(vm)
      tMan(i) = System.nanoTime() - t0

      t0 = System.nanoTime()
      val mids = st.servedNeighbors(vm, Array(v0)).get.distinct
      tH1(i) = System.nanoTime() - t0

      t0 = System.nanoTime()
      val hop2 = st.servedNeighbors(vm, mids).get
      tH2(i) = System.nanoTime() - t0

      t0 = System.nanoTime()
      val top = Queries.fofTopKLocal(hop2, v0, 20)
      tTopk(i) = System.nanoTime() - t0

      t0 = System.nanoTime()
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(
        top.map { case (id, n) => org.apache.spark.sql.Row(id, n) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("paths",
            org.apache.spark.sql.types.LongType, nullable = false))))
      checksum += df.collect().length
      tRes(i) = System.nanoTime() - t0

      t0 = System.nanoTime()
      checksum += st.servedFof(vm, v0).collect().length
      tTot(i) = System.nanoTime() - t0

      t0 = System.nanoTime()
      checksum += st.servedFofRows(vm, v0).map(_.length).getOrElse(0)
      tRows(i) = System.nanoTime() - t0
    }
    require(checksum > 0, "probe produced no rows")
    def p99Ms(ns: Seq[Long]): Double = {
      val s = ns.sorted; s(math.min(s.size - 1, (s.size * 99) / 100)) / 1e6
    }
    println(f"[serve] manifest ${medianMs(tMan.toSeq)}%8.2f ms")
    println(f"[serve] hop1     ${medianMs(tH1.toSeq)}%8.2f ms")
    println(f"[serve] hop2     ${medianMs(tH2.toSeq)}%8.2f ms")
    println(f"[serve] topk     ${medianMs(tTopk.toSeq)}%8.2f ms")
    println(f"[serve] result   ${medianMs(tRes.toSeq)}%8.2f ms")
    println(f"[serve] total    ${medianMs(tTot.toSeq)}%8.2f ms  (servedFof end-to-end; " +
      f"p99 ${p99Ms(tTot.toSeq)}%.2f ms over $iters iters)")
    println(f"[serve] rows     ${medianMs(tRows.toSeq)}%8.2f ms  (servedFofRows — the " +
      f"online-client call, no DataFrame; p99 ${p99Ms(tRows.toSeq)}%.2f ms)")

    // ---- concurrent-serving soak: the reference is an ONLINE database,
    // so multi-client throughput is part of the envelope. N client
    // threads each serve `perClient` FoF queries over a rotating set of
    // REAL query vertices (sampled once from the store — setup, not
    // serving); the serving path itself launches no Spark job, so
    // clients contend only on the driver pool + page cache. Every
    // result is sanity-checked non-degenerate (the store's fixture
    // graph gives every sampled vertex a non-empty 2-hop set).
    val clients = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val perClient = 50
    val v0s = st.read(vm).select("src").distinct().limit(64)
      .collect().map(_.getLong(0))
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val bad = new java.util.concurrent.atomic.AtomicInteger()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (i < perClient) {
          val v = v0s((c * perClient + i) % v0s.length)
          val s0 = System.nanoTime()
          val n = st.servedFof(vm, v).collect().length
          lat.add(System.nanoTime() - s0)
          if (n == 0) bad.incrementAndGet()
          i += 1
        }
      }, s"serve-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val all = lat.iterator().asScalaSeqLongs
    val qps = clients * perClient / wallS
    println(f"[serve] concurrent $clients%d clients x $perClient: " +
      f"${qps}%.1f qps, median ${medianMs(all)}%.1f ms, " +
      f"p99 ${p99Ms(all)}%.1f ms, empty=${bad.get()}")
    spark.stop()
  }

  private implicit class QIter(it: java.util.Iterator[java.lang.Long]) {
    def asScalaSeqLongs: Seq[Long] = {
      val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next().longValue()
      b.result()
    }
  }
}
