package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-native re-expression of the reference's embedded graph database
  * (reference GraphChiDatabase.scala). The graph is a pair of DataFrames —
  * `edges(src, dst, etype, <edge cols...>)` and `vertices(id, <vertex
  * cols...>)` — and every operation is a Catalyst plan over them, so
  * predicate pushdown / broadcast-vs-shuffle / AQE replace the reference's
  * hand-rolled shard index + frontier heuristics (SURVEY.md §4).
  *
  * Mutations (add/update/delete) return a NEW GraphDB over a rewritten
  * plan: the LSM buffer+shard union of the reference
  * (GraphChiDatabase.scala:1436-1474) becomes plain DataFrame union /
  * anti-join, and read-your-writes holds by construction.
  */
class GraphDB(val spark: SparkSession, val edges: DataFrame, val vertices: DataFrame) {
  // ---- cardinalities (reference GraphChiDatabase.scala:1405-1406, N8) ----
  def numEdges: DataFrame = edges.agg(count(lit(1)).as("num_edges"))
  def numVertices: DataFrame =
    endpoints.agg(count(lit(1)).as("num_vertices"))
  /** Vertices exist iff they have degree, like the reference (SURVEY §1.1). */
  def endpoints: DataFrame =
    edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct()

  // ---- neighborhood queries (N1-N3, reference GraphChiDatabase.scala:1425-1695) ----
  private def typeFilter(etype: Option[Int]): Column =
    etype.map(t => col("etype") === lit(t)).getOrElse(lit(true))

  /** Out-neighbors of one vertex: the shard+buffer probe of the reference
    * (QueryShard.java:441-497) is a pushed-down filter here. */
  def queryOut(v: Column, etype: Option[Int] = None): DataFrame =
    edges.filter(col("src") === v && typeFilter(etype))

  def queryIn(v: Column, etype: Option[Int] = None): DataFrame =
    edges.filter(col("dst") === v && typeFilter(etype))

  /** Batched out-neighbors (reference queryOutMultiple,
    * GraphChiDatabase.scala:1561-1695): a semi-join. No broadcast hint —
    * the id set is caller-supplied and unbounded; Catalyst/AQE broadcast
    * it when small (the sparse-frontier case) and shuffle when not,
    * which is the reference's sparse/dense switch. */
  def queryOutMultiple(ids: DataFrame, etype: Option[Int] = None): DataFrame =
    edges.filter(typeFilter(etype))
      .join(ids.select(col(ids.columns.head).as("src")), "src", "left_semi")

  /** Neighbor result joined with vertex property columns (N4, reference
    * QueryResult.scala:44-69) — the data-pointer join disappears: edge
    * values are already columns; vertex values are one equi-join away. */
  def joinVertex(result: DataFrame, on: String, cols: Seq[String]): DataFrame =
    result.join(vertices.select((Seq("id") ++ cols).map(col): _*).withColumnRenamed("id", on), on)

  /** in/out/total degree per vertex (N6); replaces the packed hi/lo degree
    * column (reference GraphChiDatabase.scala:1759-1833, Util.scala:25-29).
    * Endpoint rows are tagged with their side and aggregated ONCE — one
    * shuffle with map-side combine, instead of the per-side groupBy pair
    * plus full-outer join (two full-edge shuffles) it replaces; hot
    * vertices cost a combiner cell, not a straggler. */
  def degrees: DataFrame =
    edges.select(col("src").as("id"), lit(0L).as("i"), lit(1L).as("o"))
      .unionAll(edges.select(col("dst").as("id"), lit(1L).as("i"), lit(0L).as("o")))
      .groupBy("id")
      .agg(sum("i").as("indeg"), sum("o").as("outdeg"))
      .withColumn("degree", col("indeg") + col("outdeg"))

  // ---- point ops (P1-P5, reference GraphChiDatabase.scala:1188-1339) ----
  /** Edge existence (P1, reference QueryShard.java:207-253). */
  def findEdge(src: Column, dst: Column, etype: Option[Int] = None): DataFrame =
    edges.filter(col("src") === src && col("dst") === dst && typeFilter(etype))

  /** Set a column of the matching edges (P3, reference
    * GraphChiDatabase.scala:1234-1270): newest-value-wins becomes a
    * conditional column rewrite. */
  def updateEdge(pred: Column, column: String, value: Column): GraphDB =
    withEdges(edges.withColumn(column, when(pred, value).otherwise(col(column))))

  /** Tombstone-delete matching edges (P4, reference
    * GraphChiDatabase.scala:1273-1305) — a real delete via filter. */
  def deleteEdges(pred: Column): GraphDB = withEdges(edges.filter(!pred))

  /** Delete a vertex and all incident edges (P5, reference
    * GraphChiDatabase.scala:1307-1339). */
  def deleteVertex(v: Long): GraphDB =
    new GraphDB(spark,
      edges.filter(col("src") =!= v && col("dst") =!= v),
      vertices.filter(col("id") =!= v))

  /** Online ingest (S1, reference addEdge GraphChiDatabase.scala:1112-1164):
    * buffered edges union'd in; queries on the result see base ∪ buffer —
    * the reference's read-your-writes guarantee by construction. */
  def addEdges(batch: DataFrame): GraphDB =
    withEdges(edges.unionByName(batch, allowMissingColumns = true))

  /** Bulk vertex-column rewrite (P9, reference Column.scala:187-190). */
  def updateAllVertices(column: String, f: Column => Column): GraphDB =
    new GraphDB(spark, edges, vertices.withColumn(column, f(col(column))))

  def withEdges(e: DataFrame): GraphDB = new GraphDB(spark, e, vertices)

  // ---- id-translate API-compat shims (SURVEY §1.1; reference
  // GraphChiDatabase.scala:1402-1403, VertexIdTranslate.java:59-72).
  // The reference bijects original ids into shard-interval-local internal
  // ids because each shard owns a contiguous vertex interval; Spark's
  // hash-partitioned columnar layout has no such interval ownership, so
  // both maps are the IDENTITY. They exist so reference callers port
  // verbatim — every query above accepts original ids directly. ----
  def originalToInternalId(id: Long): Long = id
  def internalToOriginalId(id: Long): Long = id
  /** Column forms, for translating whole id columns in a plan. */
  def originalToInternalId(id: Column): Column = id
  def internalToOriginalId(id: Column): Column = id

  def frontier(ids: DataFrame): Frontier = new Frontier(this, ids.toDF("id"))
  def frontierOf(ids: Long*): Frontier = {
    import spark.implicits._
    new Frontier(this, ids.toDF("id"))
  }
}

object GraphDB {
  /** S4 createDatabase (reference GraphChiDatabaseAdmin.createDatabase,
    * GraphChiDatabase.scala:54-82): an empty graph with the canonical
    * edge/vertex schemas — shard files/intervals/id-translate have no
    * Spark equivalent to set up. */
  def empty(spark: SparkSession): GraphDB = {
    import org.apache.spark.sql.types._
    val edgeSchema = StructType(Seq(
      StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false),
      StructField("etype", IntegerType, nullable = false)))
    val vertexSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
    def df(s: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    new GraphDB(spark, df(edgeSchema), df(vertexSchema))
  }

  /** Register the derived graph tables as temp views so the whole surface
    * is also reachable through `spark.sql` (the relational layer the
    * reference lacks, SURVEY §2.8). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Tables.orderEdges(spark, dir).createOrReplaceTempView("edges")
    Tables.socialEdges(spark, dir).createOrReplaceTempView("uedges")
    Tables.nationEdges(spark, dir).createOrReplaceTempView("nedges")
    Tables.vertices(spark, dir).createOrReplaceTempView("vertices")
  }

  /** Order-graph database over the driver fixtures (FIXTURES.md §3). */
  def orderGraph(spark: SparkSession, dir: String): GraphDB =
    new GraphDB(spark, Tables.orderEdges(spark, dir), Tables.vertices(spark, dir))

  /** Open over an existing materialized edge store (sorted parquet — the
    * shard files of the reference, S5/S6): the durable substrate point
    * queries should hit at scale. */
  def openStore(spark: SparkSession, path: String, vertices: DataFrame): GraphDB =
    new GraphDB(spark, spark.read.parquet(path), vertices)

  /** Order graph served from the per-dir materialized store
    * ([[Tables.orderEdgesStored]]) instead of the derivation join. */
  def orderGraphStored(spark: SparkSession, dir: String): GraphDB =
    openStore(spark, Tables.edgeStorePath(spark, dir), Tables.vertices(spark, dir))

  def nationGraph(spark: SparkSession, dir: String): GraphDB =
    new GraphDB(spark, Tables.nationEdges(spark, dir), Tables.vertices(spark, dir))
}
