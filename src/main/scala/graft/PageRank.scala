package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C3 PageRank replicating the reference's exact update rule
  * (reference Pagerank.scala:45-59):
  *
  *   acc(dst)  = Σ_{(src,dst) ∈ E, outdeg(src)>0} max(0.15, rank(src)) / outdeg(src)
  *   rank'(v)  = 0.15 / numVertices + 0.85 * acc(v)
  *
  * with rank initialized to 0 (the reference's float column is
  * zero-initialized, DenseStorage.scala:51-59).
  *
  * Arithmetic is SCALED-INTEGER (1e9 = 1.0) so a fixed iteration count is
  * bit-exact and engine-independent: float group-sums are order-dependent
  * and would break the DuckDB hash parity, while BIGINT sums are exact.
  *   contrib = max(150_000_000, r) div outdeg          (integer div)
  *   r'      = 150_000_000 div n + (17 * acc) div 20   (0.85 = 17/20)
  */
object PageRank {
  val Scale = 1000000000L
  val Base  = 150000000L // 0.15 scaled

  /** `iters` fixed iterations over a directed edge list; returns
    * (id, rank_scaled) for the top-20 by (rank desc, id). */
  def top20(edges: DataFrame, iters: Int): DataFrame =
    supersteps(edges, iters, "greatest(r, 150000000L) div outdeg") { (_, n) =>
      val teleport = lit(if (n > 0) Base / n else 0L) // no vertex, no rank
      (lit(0L), _ => teleport)
    }

  /** C9: PERSONALIZED PageRank (random walk with restart): the teleport
    * mass returns to the single seed vertex instead of spreading
    * uniformly, so ranks measure proximity TO THE SEED — the
    * recommendation / similarity primitive (Haveliwala '02 topic-sensitive
    * PageRank; the personalized counterpart of the reference's global
    * Pagerank.scala rule). Seed = min(src), the suite's deterministic
    * query vertex ([[Queries.minSrc]]).
    *
    *   r0(v)    = 1.0 if v = seed else 0
    *   contrib  = r(src) div outdeg(src)
    *   r'(v)    = (0.15 if v = seed else 0) + 0.85 · acc(v)
    *
    * Same scaled-integer arithmetic and superstep loop as [[top20]]; the
    * seed is read once and enters every superstep as a literal. */
  def personalizedTop20(edges: DataFrame, iters: Int): DataFrame =
    supersteps(edges, iters, "r div outdeg") { (ed, _) =>
      val seed = lit(ed.agg(min("src")).head().get(0))
      (when(col("src") === seed, lit(Scale)).otherwise(lit(0L)),
        id => when(id === seed, lit(Base)).otherwise(lit(0L)))
    }

  /** The superstep loop of [[top20]] and [[personalizedTop20]]: `iters`
    * updates r'(v) = teleport(v) + (17 · acc(v)) div 20, acc(v) summing
    * `contrib` over v's in-edges; `terms(ed, n)` gives the start rank
    * (over `src`) and the teleport term (of an id column).
    *
    * ==One shuffle per superstep==
    * Contributions only ever read the rank of a SOURCE vertex, so the
    * loop state is restricted to `deg`'s vertices (sinks are
    * reconstructed in the final full-vertex update — same numbers, the
    * update rule never feeds a sink's rank back). Partitioning is then
    * reused end-to-end: `deg` and `ed` are pinned hash-partitioned on src
    * (persisted, not checkpointed: under AQE a checkpoint's LogicalRDD
    * reports UnknownPartitioning, so every superstep would re-Exchange
    * both join sides — InMemoryRelation preserves the child's hash
    * partitioning); `acc` comes out of its groupBy hashed on dst, and the
    * alias dst→src rewrites the partitioning expression with it, so the
    * rank-update join `deg ⋈ acc` and the next superstep's `ed ⋈ ranks`
    * both see their clustering satisfied — the ONLY exchange per
    * superstep is the |E|-row contribution combine (map-side partial
    * sums, so a hub dst costs a combiner cell, not a straggler). 3→1
    * shuffles per iteration vs. the naive full-vertex loop.
    *
    * The vertex checkpoint's fused count, the first action, builds both
    * pinned frames and counts the vertices. */
  private def supersteps(edges: DataFrame, iters: Int, contrib: String)
                        (terms: (DataFrame, Long) => (Column, Column => Column))
      : DataFrame = Traversals.pinned { pins =>
    val e = edges.select("src", "dst")
    val deg = pins(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    val ed = pins(e.join(deg, "src"))
    // verts derives from the pinned ed, not the raw edge frame: ed is an
    // inner join on src against per-src degrees, so it holds every edge
    // row — deriving vertices from e would re-run the full fact-table
    // derivation a second time per entry (r14; guide §2.4)
    val (verts, n) = Traversals.checkpointCount(
      ed.select(col("src").as("id")).union(ed.select(col("dst").as("id"))).distinct())
    val (start, teleport) = terms(ed, n)
    def rank(id: Column) = teleport(id) + expr("(17 * coalesce(acc, 0L)) div 20")
    var ranksS = deg.select(col("src"), start.as("r"))
    var lastAcc: DataFrame = null
    for (i <- 1 to iters) {
      val acc = ed.join(ranksS, "src")
        .select(col("dst"), expr(contrib).as("c"))
        .groupBy(col("dst")).agg(sum("c").as("acc"))
      lastAcc = acc
      if (i < iters) {
        ranksS = deg
          .join(acc.withColumnRenamed("dst", "src"), Seq("src"), "left_outer")
          .select(col("src"), rank(col("src")).as("r"))
        // truncate lineage every few supersteps — otherwise the plan
        // deepens linearly and convergence-length runs (50+ iters)
        // re-analyze an ever-growing DAG
        if (i % 5 == 0) ranksS = ranksS.localCheckpoint(true)
      }
    }
    verts
      .join(lastAcc.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
      .select(col("id"), rank(col("id")).as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("id")).limit(20)
  }

  /** DuckDB oracle for [[personalizedTop20]] — fixed iterations unrolled,
    * the seed as a one-row CTE cross-joined everywhere the Spark side
    * broadcasts it. */
  def personalizedOracleSql(iters: Int, fragment: String = Oracle.EDGES,
                            table: String = "edges"): String =
    unrolledSql(iters, fragment, table, s"sd AS (SELECT min(src) AS seed FROM $table)",
      "r0 AS (SELECT v.id, CAST(CASE WHEN v.id = sd.seed THEN 1000000000 ELSE 0 END AS BIGINT) AS r FROM verts v CROSS JOIN sd)",
      " CAST(sum(r.r // d.outdeg) AS BIGINT)", "sd",
      """
        |         CASE WHEN v.id = sd.seed THEN 150000000 ELSE 0 END
        |           + (17 * COALESCE(a.acc, 0)) // 20""".stripMargin)

  /** DuckDB oracle: the same fixed iterations unrolled as chained CTEs.
    * Defaults to the [[Oracle.EDGES]] graph; callers may supply any other
    * edge-table CTE fragment + its name (e.g. the zipf skew fixture). */
  def oracleSql(iters: Int, fragment: String = Oracle.EDGES,
                table: String = "edges"): String =
    unrolledSql(iters, fragment, table, "nn AS (SELECT count(*) AS n FROM verts)",
      "r0 AS (SELECT id, CAST(0 AS BIGINT) AS r FROM verts)",
      """
        |         CAST(sum((CASE WHEN r.r > 150000000 THEN r.r ELSE 150000000 END) // d.outdeg) AS BIGINT)""".stripMargin,
      "nn", " 150000000 // nn.n + (17 * COALESCE(a.acc, 0)) // 20")

  /** The unrolled oracle both PageRanks share: `one` is the one-row CTE
    * (named `oneName`) the rank update cross-joins, `r0` the start
    * ranks, `acc` the summed contribution and `r` the rank update. */
  private def unrolledSql(iters: Int, fragment: String, table: String, one: String,
                          r0: String, acc: String, oneName: String, r: String): String = {
    val sb = new StringBuilder
    sb.append(fragment).append(",\n")
    sb.append(s"deg AS (SELECT src AS id, count(*) AS outdeg FROM $table GROUP BY src),\n")
    // NOTE: no top-level UNION inside a CTE here — under WITH RECURSIVE,
    // DuckDB 1.0 does not deduplicate a multiply-referenced UNION CTE.
    sb.append(s"verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM $table UNION ALL SELECT dst AS id FROM $table)),\n")
    sb.append(one).append(",\n").append(r0)
    for (i <- 1 to iters) {
      sb.append(s""",
        |acc$i AS (
        |  SELECT e.dst AS id,$acc AS acc
        |  FROM $table e JOIN r${i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.id
        |  GROUP BY e.dst),
        |r$i AS (
        |  SELECT v.id,$r AS r
        |  FROM verts v CROSS JOIN $oneName LEFT JOIN acc$i a ON v.id = a.id)""".stripMargin)
    }
    sb.append(s"\nSELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r$iters ORDER BY rank_scaled DESC, id LIMIT 20")
    Oracle.withSql(sb.toString, "")
  }
}
