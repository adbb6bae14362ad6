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

  /** Collect a two-column (id-ish, value-ish) frame into a sorted map. */
  def toMap2(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
