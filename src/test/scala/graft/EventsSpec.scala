package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Registry entries over hand-built event tables: the point-in-time
  * feature join (x6), Markov transitions (r20), the schema-evolution read
  * (w8), and the SQL-dump tuple parse the S2b/S2c entries share. */
class EventsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pointInTimeFeatures has no leakage: features strictly precede the label") {
    val s = spark; import s.implicits._
    // user 7: view(t=1, v=1.00), purchase(t=2, v=2.00), purchase(t=3, v=3.00)
    val base = 1700000000L * 1000000000L
    val ev = Seq(
      (10L, base + 1000000000L, 7L, "view", 1.0),
      (11L, base + 2000000000L, 7L, "purchase", 2.0),
      (12L, base + 3000000000L, 7L, "purchase", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    ev.write.mode("overwrite").parquet("/tmp/graft-x6-spec/events.parquet")
    val fn = SparkEntry.queries("x6_feature_join_pit")
    val r = fn(spark, "/tmp/graft-x6-spec").collect()
      .map(x => x.getLong(0) -> (x.getLong(3), x.getLong(4), x.getString(5))).toMap
    // label at t=2 sees ONLY the view; label at t=3 sees view + purchase(2)
    assert(r(11L) == ((1L, 100L, "view")))
    assert(r(12L) == ((2L, 300L, "purchase")))
  }

  test("markov transitions: exact ppm row-normalized counts") {
    val s = spark; import s.implicits._
    val base = 1700000000L * 1000000000L
    // user 1: a -> b -> a ; user 2: a -> b
    val ev = Seq(
      (1L, base + 1e9.toLong, 1L, "a", 0.0),
      (2L, base + 2e9.toLong, 1L, "b", 0.0),
      (3L, base + 3e9.toLong, 1L, "a", 0.0),
      (4L, base + 1e9.toLong, 2L, "a", 0.0),
      (5L, base + 2e9.toLong, 2L, "b", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    ev.write.mode("overwrite").parquet("/tmp/graft-r20-spec/events.parquet")
    val r = SparkEntry.queries("r20_markov_transitions")(spark, "/tmp/graft-r20-spec")
      .collect().map(x => (x.getString(0), x.getString(1)) -> (x.getLong(2), x.getLong(3))).toMap
    // transitions: a->b twice, b->a once
    assert(r(("a", "b")) == ((2L, 1000000L)))
    assert(r(("b", "a")) == ((1L, 1000000L)))
    assert(r.size == 2)
  }

  test("schema-evolution read: merged schema nulls the pre-evolution rows") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-w8-spec").toString
    Seq((1L, 10L)).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, 20L, 7L)).toDF("id", "v", "quality").write.mode("append").parquet(dir)
    val r = spark.read.option("mergeSchema", "true").parquet(dir)
      .orderBy("id").collect()
    assert(r.length == 2)
    assert(r(0).isNullAt(r(0).fieldIndex("quality")))
    assert(r(1).getLong(r(1).fieldIndex("quality")) == 7L)
  }

  test("SQL-dump tuple parse over a multi-file dump: exact rejected count, " +
       "no well-formed line dropped, no corrupt line leaked") {
    // deterministic tuple lines (uid,id,'page_ccc…c') with three seeded
    // corruption classes: truncated (id % 17), an SQL-comment garbage
    // prefix (id % 23) and blank (id % 29). The prefix class matters: the
    // regex is anchored at both ends, so a line that merely CONTAINS a
    // well-formed tuple must still be rejected.
    val n = 10000L
    val lines = spark.range(n).select(
      concat(lit("("), pmod(col("id"), lit(1000L)), lit(","), col("id"),
        lit(",'page_"),
        expr("repeat(substr('abcdefghijklmnopqrstuvwxyz', cast(id % 26 as int) + 1, 1), 40)"),
        lit("')")).as("line0"), col("id"))
      .select(
        when(col("id") % 17 === 0, expr("substring(line0, 1, length(line0)-2)"))
          .when(col("id") % 23 === 0, concat(lit("-- INSERT INTO garbage "), col("line0")))
          .when(col("id") % 29 === 0, lit(""))
          .otherwise(col("line0")).as("value"))
    val dump = java.nio.file.Files.createTempDirectory("graft-dump-parse").toString + "/d"
    lines.repartition(8).write.text(dump)
    val parts = new java.io.File(dump).listFiles().count(_.getName.startsWith("part-"))
    assert(parts > 1, s"the dump is not multi-file: $parts part file(s)")
    // expectations from the generator arithmetic alone
    val corrupt = (i: Long) => i % 17 == 0 || i % 23 == 0 || i % 29 == 0
    val expBad = (0L until n).count(corrupt).toLong
    val expGoodIdSum = (0L until n).filterNot(corrupt).sum
    val P = registry.EventQueries.DumpTuple
    val got = spark.read.text(dump).select(
        regexp_extract(col("value"), P, 2).as("id_s"),
        regexp_extract(col("value"), P, 3).as("title"))
      .select(
        count(lit(1)),
        sum(when(col("title") === "", 1L).otherwise(0L)),
        sum(when(col("title") === "", 0L).otherwise(col("id_s").cast("long"))))
      .head()
    assert(got.getLong(0) == n, "line count")
    assert(got.getLong(1) == expBad, "rejected count")
    assert(got.getLong(2) == expGoodIdSum, "good-id-sum witness")
  }
}
