package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def edgesDF(rows: Seq[(Long, Long, Int)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst", "etype")
  }

  /** Hex md5 of a UTF-8 string — for asserting fingerprint columns. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A row as `class:value` cells (binary by content): two rows are
    * whole-row, class-equal iff their keys are equal. */
  def typedKey(r: Seq[Any]): String = r.map {
    case null => "null"
    case b: Array[Byte] => "[B:" + b.mkString(",")
    case x => s"${x.getClass.getName}:$x"
  }.mkString("|")

  /** Multiset equality of row sets under [[typedKey]]. */
  def sameTypedRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean =
    got.map(typedKey).sorted == want.map(typedKey).sorted

  /** A second handle on `st`'s root whose serving budgets are the given
    * ones (each defaults to the store's fixed budget): the handle the
    * budget-refusal specs drive, since no served method takes a budget. */
  def budgeted(st: DurableStore,
               files: Int = DurableStore.ServeLocalFileBudget,
               deltaRows: Long = DurableStore.ServeLocalDeltaRowBudget,
               tombRows: Long = DurableStore.ServeTombRowBudget): DurableStore =
    new DurableStore(st.spark, st.root, st.commit, st.linearHistory, st.autoCompact,
        st.autoTombRowTrigger, st.autoDeltaRowTrigger, st.autoLiveFileTrigger) {
      override private[graft] def serveBudget =
        DurableStore.ServeBudget(files, deltaRows, tombRows)
    }

  /** `f`'s value and the number of Spark jobs started while it ran: a
    * listener counts job starts, and the listener bus is drained before
    * the listener is added (so no earlier job's event lands in the
    * count) and after `f` (so every event of `f`'s jobs has). */
  def jobsDuring[A](spark: SparkSession)(f: => A): (A, Int) = {
    import org.apache.spark.graftdev.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      ListenerDrain.drain(sc)
      (a, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s value and the RDDs `f` left persisted: those in the context's
    * persistent-RDD map after `f` that were not in it before. A cached
    * Dataset persists an RDD of column batches, a local checkpoint an
    * RDD of rows. */
  def pinnedDuring[A](spark: SparkSession)(f: => A): (A, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = f
    (a, sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.toSeq)
  }

  /** Vertex side-table rows (id, name, score). */
  def props(rows: (Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score")
  }

  /** A mirrored store of four (src, dst, w) edges carrying a vertex
    * side-table of ids 1–3 with auto-fill defaults for `name` and
    * `score` — the start of the vertex-row tombstone and served
    * vertex-join specs. Returns the handle and the side-table's version. */
  def vertexStore(prefix: String): (DurableStore, Int) = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    DurableStore.create(spark,
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 2L)).toDF("src", "dst")
        .select(col("src"), col("dst"), (col("src") * 10 + col("dst")).as("w")),
      root, numBuckets = 2, withInEdgeIndex = true)
    val st = new DurableStore(spark, root)
    val v = st.setVertexTable(st.currentVersion,
      props((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)),
      defaults = Map("name" -> "'auto'", "score" -> "0"))
    (st, v)
  }

  /** Collect a two-column (id-ish, value-ish) frame into a sorted map. */
  def toMap2(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
