package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom optimizer rule [[graft.plans.OffsetComparisonRewrite]]:
  * range predicates through constant-offset arithmetic must reach the
  * parquet scan as plain attribute filters.
  *
  * The rule is installed into a CHILD session (`spark.newSession()`, same
  * SparkContext, own sessionState) — never into the shared TestSpark
  * session: the rewrite is semantics-changing in non-ANSI overflow corners
  * and must not leak into other specs' planning (ADVICE r2). */
class RuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("offset comparisons are inverted onto the source column and pushed") {
    val s2 = spark.newSession()
    graft.plans.OffsetComparisonRewrite.install(s2)
    val lo = Tables.SupplierBase
    val hi = Tables.SupplierBase + 4
    val natural = Tables.orderEdges(s2, dir)
      .filter(col("dst").between(lo, hi))
      .groupBy("dst").agg(count(lit(1)).as("n"))
    val plan = natural.queryExecution.executedPlan.toString
    // the folded bounds (1000000-1000000=0 .. 1000004-1000000=4) must
    // appear as pushed parquet filters on the SOURCE column
    assert(plan.contains("GreaterThanOrEqual(l_suppkey,0)"), plan.take(2000))
    assert(plan.contains("LessThanOrEqual(l_suppkey,4)"), plan.take(2000))
    // and the results must equal the hand-rewritten W2 form (planned on the
    // pristine shared session — no rule installed there)
    val hand = Tables.orderEdgesForDstRange(spark, dir, lo, hi)
      .filter(col("dst").between(lo, hi))
      .groupBy("dst").agg(count(lit(1)).as("n"))
    assert(natural.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      hand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("rewrite skips when folding would overflow") {
    val s2 = spark.newSession()
    graft.plans.OffsetComparisonRewrite.install(s2)
    import s2.implicits._
    val df = Seq(1L, 5L).toDF("x")
      .filter(expr(s"x - 100 < ${Long.MaxValue - 10}")) // k + 100 overflows
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 5L)) // semantics intact
  }

  test("the shared session's optimizer stays pristine (no rule leak)") {
    val extra = spark.experimental.extraOptimizations
    assert(!extra.contains(graft.plans.OffsetComparisonRewrite),
      s"OffsetComparisonRewrite leaked into the shared session: $extra")
  }

  test("injected SQL function builders reject wrong arity loudly") {
    // graft_winnow(text, 16, 8) must throw, not silently ignore the extra
    // args and run with hardcoded k=8/w=4 (same for the other three)
    val ext = new graft.plans.GraftExtensions
    val lit1 = org.apache.spark.sql.catalyst.expressions.Literal("x")
    val build = ext.checked("graft_winnow", 1)(es =>
      graft.functions.WinnowArray(es.head, 8, 4))
    assert(build(Seq(lit1)).isInstanceOf[graft.functions.WinnowArray])
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      build(Seq(lit1, lit1, lit1))
    }
    assert(e.getMessage.contains("graft_winnow"), e.getMessage)
    assert(e.getMessage.contains("3"), e.getMessage)
  }

  test("a session built withExtensions(GraftExtensions) runs the rule and " +
       "serves the graft_* functions from SQL") {
    // The builder hands back the active or default session unchanged (its
    // extensions ignored), so both are cleared for the build, which then
    // makes a session of its own on the shared SparkContext, and both are
    // restored to the shared session before any assertion can throw.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(ext ne spark)
    assert(ext.sparkContext eq spark.sparkContext)
    // the injected rule: the NATURAL dst-interval predicate reaches the
    // parquet scan on the source column
    val plan = Tables.orderEdges(ext, dir)
      .filter(col("dst").between(Tables.SupplierBase, Tables.SupplierBase + 4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(l_suppkey,0)"), plan.take(2000))
    assert(plan.contains("LessThanOrEqual(l_suppkey,4)"), plan.take(2000))
    // the injected functions, reached from SQL
    assert(ext.sql("SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").first().getDouble(0) == 11.0)
    // a single token votes its own bits: SimHash60 of one token is the
    // SQL derivation of that token's hash
    assert(ext.sql("SELECT graft_simhash60(array('hello')) = " +
      "CAST(conv(substring(md5('hello'), 1, 15), 16, 10) AS BIGINT)").first().getBoolean(0))
    assert(ext.sql("SELECT graft_shingles('a b c d')").first().getSeq[String](0) ==
      Seq("a b c", "b c d"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ext.sql("SELECT graft_winnow('abc', 16, 8)").collect()
    }
    assert(e.getMessage.contains("graft_winnow"), e.getMessage)
    // and the shared session is the active and default one again, still
    // planning without the rule
    assert(SparkSession.getActiveSession.exists(_ eq spark))
    assert(SparkSession.getDefaultSession.exists(_ eq spark))
    val shared = Tables.orderEdges(spark, dir)
      .filter(col("dst").between(Tables.SupplierBase, Tables.SupplierBase + 4))
      .queryExecution.executedPlan.toString
    assert(!shared.contains("GreaterThanOrEqual(l_suppkey,0)"), shared.take(2000))
  }

  test("z-order layout clusters BOTH range dimensions; single-sort only one") {
    val s = spark; import s.implicits._
    // full 256×256 grid → 16 files of 4096 rows each; under z-order every
    // file is one 64×64 tile, under src-sort every file is 16 src rows
    val grid = (0 until 256).flatMap(a => (0 until 256).map(b => (a.toLong, b.toLong)))
      .toDF("src", "dst")
    def filesTouched(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val zdir = java.nio.file.Files.createTempDirectory("zspec").toString + "/z"
    grid.withColumn("zkey", graft.functions.ZInterleave.of(s, col("src"), col("dst")))
      .repartitionByRange(16, col("zkey")).sortWithinPartitions("zkey").drop("zkey")
      .write.parquet(zdir)
    val sdir = java.nio.file.Files.createTempDirectory("zspec").toString + "/s"
    grid.repartitionByRange(16, col("src")).sortWithinPartitions("src", "dst")
      .write.parquet(sdir)
    val z = s.read.parquet(zdir); val bySrc = s.read.parquet(sdir)
    assert(filesTouched(z) == 16 && filesTouched(bySrc) == 16)
    // a 16-wide slice in EITHER dimension intersects one ~4-tile strip;
    // repartitionByRange SAMPLES its boundaries (seed varies run to run),
    // so allow every strip tile to straddle a file boundary — still at
    // most half the files, where the single-sort layout reads ALL of
    // them for its unsorted dimension
    assert(filesTouched(z.filter(col("src") < 16)) <= 8)
    assert(filesTouched(z.filter(col("dst") < 16)) <= 8)
    // the src-sorted layout serves src perfectly and dst not at all
    assert(filesTouched(bySrc.filter(col("src") < 16)) <= 3)
    assert(filesTouched(bySrc.filter(col("dst") < 16)) == 16)
    // morton bit math: a → even positions, b → odd
    assert(graft.functions.ZInterleave.morton(1, 0) == 1L)
    assert(graft.functions.ZInterleave.morton(0, 1) == 2L)
    assert(graft.functions.ZInterleave.morton(3, 3) == 15L)
    assert(graft.functions.ZInterleave.morton(0x7FFFFFFFL, 0) == 0x1555555555555555L)
  }
}
