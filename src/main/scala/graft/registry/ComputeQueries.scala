package graft.registry

import graft._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Oracle.withSql

/** SURVEY.md §2.7 batch-compute surface: the Pregel adapter (C1) checked
  * against the same oracles as the DataFrame implementations, MultiBFS
  * (C5), and ALS + recommendation serving (C6/Q11, rows-only). */
object ComputeQueries {
  val entries: Seq[QueryEntry] = Seq(

    // ---- C1: GraphX Pregel adapter running CC — same oracle as c4 ----
    ("c1_pregel_cc",
      (s: SparkSession, d: String) =>
        VertexCentric.pregelCC(s, Tables.nationEdgesSym(s, d)),
      Some(withSql(Oracle.NEDGES_SYM,
        """, verts AS (SELECT src AS id FROM nsym UNION SELECT dst FROM nsym),
          |reach(id, r) AS (
          |  SELECT id, id FROM verts
          |  UNION
          |  SELECT w.id, n.dst FROM reach w JOIN nsym n ON w.r = n.src)
          |SELECT id, min(r) AS label FROM reach GROUP BY id""".stripMargin))),

    // ---- C1/C3: Pregel PageRank, scaled-int — same oracle as c3 ----
    ("c1_pregel_pagerank",
      (s: SparkSession, d: String) =>
        VertexCentric.pregelPageRank(s, Tables.orderEdges(s, d), iters = 3),
      Some(PageRank.oracleSql(3))),

    // ---- C5: MultiBFS — simultaneous BFS from 3 seeds ----
    ("c5_multi_bfs",
      (s: SparkSession, d: String) => {
        val sym = Tables.nationEdgesSym(s, d)
        val sources = sym.filter(col("src") >= Tables.SupplierBase && col("src") < Tables.NationBase)
          .select(col("src").as("id")).distinct().orderBy("id").limit(3)
          .select(col("id").as("source"), col("id"))
        Traversals.bfsDistances(sym, sources, maxDepth = 4)
      },
      Some(withSql(Oracle.NEDGES_SYM,
        """, srcs AS (SELECT DISTINCT src AS s FROM nsym
          |           WHERE src >= 1000000 AND src < 2000000 ORDER BY src LIMIT 3),
          |walk(source, id, dist) AS (
          |  SELECT s, s, 0 FROM srcs
          |  UNION
          |  SELECT w.source, n.dst, w.dist + 1 FROM walk w JOIN nsym n ON w.id = n.src
          |  WHERE w.dist < 4)
          |SELECT source, id, CAST(min(dist) AS BIGINT) AS dist
          |FROM walk GROUP BY source, id""".stripMargin))),

    // ---- C5 at the reference's OWN scale (MultiBFS.scala:51: 1,200
    //      simultaneous BFS): the packed Array[Int]-per-vertex Aggregator
    //      path, previously spec-pinned only at K=3, now value-checked at
    //      K=1200 against the oracle's recursive walk via integer claims
    //      (pair count, distance sum, seed-mixed checksum) ----
    ("c5b_multi_bfs_packed_1200",
      (s: SparkSession, d: String) => {
        val sym = Tables.nationEdgesSym(s, d)
        val seeds = sym.filter(col("src") < Tables.SupplierBase)
          .select(col("src").as("id")).distinct().orderBy("id").limit(1200)
          .collect().map(_.getLong(0)).toSeq
        MultiBFSPacked.run(s, sym, seeds, maxDepth = 4)
          .agg(count(lit(1)).as("n_pairs"),
            sum("dist").cast("long").as("dist_sum"),
            sum(pmod(col("source"), lit(1009L)) * col("dist")).cast("long").as("xsum"))
      },
      Some(withSql(Oracle.NEDGES_SYM,
        """, srcs AS (SELECT DISTINCT src AS s FROM nsym WHERE src < 1000000
          |           ORDER BY src LIMIT 1200),
          |walk(source, id, dist) AS (
          |  SELECT s, s, 0 FROM srcs
          |  UNION
          |  SELECT w.source, n.dst, w.dist + 1 FROM walk w JOIN nsym n ON w.id = n.src
          |  WHERE w.dist < 4),
          |dd AS (SELECT source, id, min(dist) AS dist FROM walk GROUP BY source, id)
          |SELECT count(*) AS n_pairs, CAST(sum(dist) AS BIGINT) AS dist_sum,
          |       CAST(sum((source % 1009) * dist) AS BIGINT) AS xsum
          |FROM dd""".stripMargin))),

    // ---- C9: personalized PageRank (random walk with restart) from the
    //      suite's deterministic query vertex — proximity-to-seed ranks,
    //      scaled-int bit-exact like c3 ----
    ("c9_personalized_pagerank",
      (s: SparkSession, d: String) =>
        PageRank.personalizedTop20(Tables.orderEdges(s, d), iters = 3),
      Some(PageRank.personalizedOracleSql(3))),

    // ---- C6: ALS training RMSE (seeded; float — rows-only) ----
    ("c6_als_rmse",
      (s: SparkSession, d: String) => ALSRec.rmseChecked(s, d),
      Some(Oracle.withSql(Oracle.EDGES,
        "SELECT count(*) AS n, true AS rmse_ok FROM edges"))),

    // ---- C6b: reference-EXACT ALS — the per-vertex D=10 λ=0.065
    // Cholesky least-squares sweep (ALSMatrixFactorization.scala:130-223)
    // as a typed-Aggregator DataFrame port, same convergence-boolean
    // oracle pattern as c6 (converges to ~1.20-1.25; bound 1.38 sits
    // between that and the ~1.41 predict-the-mean baseline) ----
    ("c6b_als_sweep_rmse",
      (s: SparkSession, d: String) => ALSSweep.rmseChecked(s, d),
      Some(Oracle.withSql(Oracle.EDGES,
        "SELECT count(*) AS n, true AS rmse_ok FROM edges"))),

    // ---- Q11: dot-product top-k recommendation serving. The float
    // factors are not oracle-derivable, but the served RANKING is: the
    // query dumps the factors it ranked (partitioned by training-set
    // size), and the oracle re-ranks them with the identical left-fold
    // scaled-int dot, selecting its partition via count(edges). ----
    ("q11_recommend_topk",
      (s: SparkSession, d: String) => ALSRec.recommendTopK(s, d, k = 10),
      Some(Oracle.withSql(Oracle.EDGES,
        s"""SELECT CAST(it.id AS BIGINT) AS item,
           |  CAST(floor(list_reduce(list_transform(
           |      list_zip(it.features, uf.features),
           |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
           |    (s, v) -> s + v) * 1000000) AS BIGINT) AS score_scaled
           |FROM (SELECT id, features
           |      FROM read_parquet('${ALSRec.OracleDumpDir}/q11_items.parquet/*/*/*.parquet',
           |                        hive_partitioning = true)
           |      WHERE CAST(n_ratings AS BIGINT) = (SELECT count(*) FROM edges)
           |        AND CAST(fp AS BIGINT) = (SELECT ${ALSRec.FpSql} FROM edges)) it
           |CROSS JOIN
           |     (SELECT features
           |      FROM read_parquet('${ALSRec.OracleDumpDir}/q11_user.parquet/*/*/*.parquet',
           |                        hive_partitioning = true)
           |      WHERE CAST(n_ratings AS BIGINT) = (SELECT count(*) FROM edges)
           |        AND CAST(fp AS BIGINT) = (SELECT ${ALSRec.FpSql} FROM edges)) uf
           |ORDER BY score_scaled DESC, item LIMIT 10""".stripMargin))),
  )
}
