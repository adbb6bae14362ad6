package graft.registry

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew CORRECTNESS entries (VERDICT r4 missing #4): every other oracle
  * runs on uniform TPC-H-derived fixtures; the r4 skew probe (its
  * timings are in PERF_ARCHIVE.md) only TIMED operators under power-law
  * skew. These entries pin graph-operator
  * results on a deterministic heavy-tailed graph with DuckDB oracles.
  *
  * The fixture is derived from the events table by pure integer/md5
  * arithmetic both engines compute bit-identically (no rand(), no pow()
  * — libm last-ulp differences could flip a ceil): for each event,
  *
  *   island = event_id % 4
  *   src    = island*10000 + event_id % 997
  *   dst    = island*10000 + 997 div (1 + md5int('zf|'||event_id) % 997)
  *
  * The dst map sends a uniform hash h to 997 div (1+h%997), so
  * p(dst = d) ∝ 1/d² — a zipf-like head where rank-1 takes ~half of ALL
  * edges (the hottest key a power-law graph can produce, reference
  * workloads: LiveJournal/Twitter, SocialNetworkExample.scala:77-82).
  * The 4 islands are disconnected by construction, so CC has real
  * structure to find instead of one giant component through the hub.
  * Parallel edges are kept (multigraph, like Tables.orderEdges);
  * degree/path counts include multiplicity exactly as the operators do.
  */
object ZipfQueries {

  /** md5 → 60-bit positive int, the repo's cross-engine hash recipe
    * (same as SimHash60's oracle: 15 hex chars parsed base-16). */
  private val zdst =
    "997L div (1L + (CAST(conv(substring(md5(concat('zf|', CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 997L))"

  private[registry] def zipfEdges(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      ((col("event_id") % 4) * 10000 + col("event_id") % 997).as("src"),
      ((col("event_id") % 4) * 10000 + expr(zdst)).as("dst"))

  /** Shared oracle fragment: the identical fixture in DuckDB. */
  private[registry] val ZEDGES =
    """zedges AS (
      |  SELECT (event_id % 4) * 10000 + event_id % 997 AS src,
      |         (event_id % 4) * 10000 +
      |         997 // (1 + (CAST(('0x' || substr(md5('zf|' || event_id), 1, 15)) AS BIGINT) % 997)) AS dst
      |  FROM events)""".stripMargin

  /** Symmetrized DISTINCT edge set for CC (DISTINCT-over-UNION-ALL, not a
    * top-level UNION CTE — DuckDB does not re-deduplicate those under
    * WITH RECURSIVE when multiply referenced). */
  private val ZSYM = ZEDGES + """,
    |zd AS (SELECT DISTINCT src, dst FROM zedges),
    |zsym AS (SELECT DISTINCT src, dst FROM
    |  (SELECT src, dst FROM zd UNION ALL SELECT dst AS src, src AS dst FROM zd))""".stripMargin

  val entries: Seq[QueryEntry] = Seq(

    // ---- N6 under a rank-1 hub holding ~50% of all in-edges: the
    //      tagged-union degree aggregate must stay exact when one
    //      combiner cell absorbs half the graph ----
    ("z1_zipf_degrees",
      (s: SparkSession, d: String) =>
        new GraphDB(s, zipfEdges(s, d), s.emptyDataFrame).degrees,
      Some(Oracle.withSql(ZEDGES,
        """, outd AS (SELECT src AS id, count(*) AS c FROM zedges GROUP BY src),
          |ind AS (SELECT dst AS id, count(*) AS c FROM zedges GROUP BY dst)
          |SELECT COALESCE(o.id, i.id) AS id, COALESCE(i.c, 0) AS indeg,
          |       COALESCE(o.c, 0) AS outdeg,
          |       COALESCE(i.c, 0) + COALESCE(o.c, 0) AS degree
          |FROM outd o FULL OUTER JOIN ind i ON o.id = i.id""".stripMargin))),

    // ---- Q1 with the 2-hop fan-out routed THROUGH the hub: nearly every
    //      hop-1 set contains the hub, whose out-edges dominate the path
    //      counts — the exact shape that breaks a non-combining count ----
    ("z2_zipf_fof_top20",
      (s: SparkSession, d: String) =>
        Queries.friendsOfFriendsExclTop20(zipfEdges(s, d)),
      Some(Oracle.withSql(ZEDGES,
        """, qv AS (SELECT min(src) AS v FROM zedges),
          |hop1 AS (SELECT DISTINCT z.dst AS mid FROM zedges z, qv WHERE z.src = qv.v)
          |SELECT z.dst AS id, count(*) AS paths
          |FROM hop1 h JOIN zedges z ON z.src = h.mid, qv
          |WHERE z.dst <> qv.v
          |GROUP BY z.dst
          |ORDER BY paths DESC, id LIMIT 20""".stripMargin))),

    // ---- C3 on the hub graph: the canonical skewed iterative compute —
    //      the rank-1 vertex accumulates ~half of every superstep's
    //      contributions; the scaled-int fixpoint must stay bit-exact
    //      with the partial-aggregating hot-key sum ----
    ("z4_zipf_pagerank",
      (s: SparkSession, d: String) => PageRank.top20(zipfEdges(s, d), iters = 3),
      Some(PageRank.oracleSql(3, fragment = ZEDGES, table = "zedges"))),

    // ---- Q13/C4 on the 4 disconnected islands: label propagation must
    //      find exactly the island structure despite the intra-island
    //      hubs (a skew-broken min-combine would merge or split them) ----
    ("z3_zipf_cc_histogram",
      (s: SparkSession, d: String) => {
        val zd = zipfEdges(s, d).distinct()
        val zsym = zd.unionByName(
          zd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        Traversals.componentHistogramTop20(zsym)
      },
      Some(Oracle.withSql(ZSYM,
        """, verts AS (SELECT DISTINCT id FROM
          |  (SELECT src AS id FROM zsym UNION ALL SELECT dst FROM zsym)),
          |reach(id, r) AS (
          |  SELECT id, id FROM verts
          |  UNION
          |  SELECT w.id, n.dst FROM reach w JOIN zsym n ON w.r = n.src),
          |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
          |SELECT label, count(*) AS csize FROM labels GROUP BY label
          |ORDER BY csize DESC, label LIMIT 20""".stripMargin))),

    // ---- C10: large-star/small-star CC (Kiveris et al. SoCC'14) on the
    //      same hub graph — the O(log n)-round, skew-robust alternative
    //      to z3's O(diameter) label propagation; identical min-label
    //      fixpoint, so the oracle is the same recursive reachability ----
    ("c10_cc_bigstar",
      (s: SparkSession, d: String) => {
        val zd = zipfEdges(s, d).distinct()
        val zsym = zd.unionByName(
          zd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        Traversals.ccBigStar(zsym)
      },
      Some(Oracle.withSql(ZSYM,
        """, verts AS (SELECT DISTINCT id FROM
          |  (SELECT src AS id FROM zsym UNION ALL SELECT dst FROM zsym)),
          |reach(id, r) AS (
          |  SELECT id, id FROM verts
          |  UNION
          |  SELECT w.id, n.dst FROM reach w JOIN zsym n ON w.r = n.src)
          |SELECT id, min(r) AS label FROM reach GROUP BY id""".stripMargin))),
  )
}
