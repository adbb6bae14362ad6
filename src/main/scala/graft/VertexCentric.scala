package graft

import org.apache.spark.graphx.{Edge, EdgeTriplet, Graph, VertexId, Pregel, EdgeDirection}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag

/** C1/C7: the reference's vertex-centric batch-computation engine
  * (reference GraphChiDatabase.scala:2124-2255 runGraphChiComputation;
  * update-function API VertexCentricComputation.scala:76-156) mapped onto
  * GraphX Pregel. The reference's BitSetScheduler (Scheduler.scala:31-83)
  * — double-buffered sets of vertices scheduled for the next sweep — is
  * exactly Pregel's active-vertex set: only vertices that received a
  * message run their update, and the loop halts when no messages flow.
  */
object VertexCentric {

  /** Build a GraphX graph from an edges DataFrame (src, dst, ...). */
  def toGraph(edges: DataFrame): Graph[Long, Byte] = {
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 0.toByte))
    Graph.fromEdges(es, defaultValue = 0L)
  }

  /** C4 via Pregel: min-label propagation to fixpoint on an edge list
    * (pass a symmetrized edge list for undirected components) — the GraphX
    * execution of ConnectedComponentsLabelProp.scala:38-85. The graph and
    * what Pregel caches are pinned for the call ([[Traversals.pinned]]);
    * the labels materialize before they are released. */
  def pregelCC(spark: SparkSession, edges: DataFrame): DataFrame =
    Traversals.pinned(_.graph(toGraph(edges)) { base =>
      val res = Pregel(base.mapVertices((id, _) => id.toLong), Long.MaxValue, Int.MaxValue,
          EdgeDirection.Out)(
        (id, label, msg) => math.min(id, math.min(label, msg)),
        t => if (t.srcAttr < t.dstAttr) Iterator((t.dstId, t.srcAttr)) else Iterator.empty,
        (a, b) => math.min(a, b))
      spark.createDataFrame(res.vertices.map(v => (v._1, v._2))).toDF("id", "label")
    })

  /** C3 via Pregel with the reference's exact scaled-integer update rule
    * (see [[PageRank]]) — fixed iteration count, bit-exact. Pinned like
    * [[pregelCC]]: each superstep's vertex RDD is cached by GraphX. */
  def pregelPageRank(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame =
    Traversals.pinned(_.graph(toGraph(edges)) { base =>
      val outDeg = base.outDegrees
      // state = (rank_scaled, outdeg); messages = partial acc sums
      var cur = base.outerJoinVertices(outDeg)((_, _, d) => (0L, d.getOrElse(0)))
      val n = cur.numVertices
      for (_ <- 1 to iters) {
        val acc = cur.aggregateMessages[Long](
          ctx => ctx.sendToDst(math.max(150000000L, ctx.srcAttr._1) / ctx.srcAttr._2),
          _ + _)
        cur = cur.outerJoinVertices(acc)((_, s, a) =>
          (150000000L / n + (17L * a.getOrElse(0L)) / 20L, s._2))
      }
      spark.createDataFrame(cur.vertices.map(v => (v._1, v._2._1))).toDF("id", "rank_scaled")
        .orderBy(col("rank_scaled").desc, col("id")).limit(20)
    })
}
