package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** C5 MultiBFS in the reference's packed representation (reference
  * MultiBFS.scala:100-157 keeps a bounded counter VECTOR per vertex,
  * CompactBoundedCounterVector.java:37-182, and merges neighbor vectors
  * pointwise): per-vertex state is an Array[Int] of distances for K
  * seeds (-1 = unreached), and the superstep merge is a pointwise-min
  * typed [[Aggregator]] — the SURVEY §7.3 "custom Aggregator" case, a
  * non-algebraic fold over a packed custom type.
  *
  * The row-per-(source,vertex) variant ([[Traversals.bfsDistances]]) is
  * the shuffle-friendly form used for oracle parity; this one trades
  * shuffle rows for per-vertex state width, like the reference (memory ≈
  * V·K·w bits, MultiBFS.scala:51-61).
  */
object MultiBFSPacked {

  /** Per-vertex state is an Array[Byte] (BinaryType — one flat byte blob
    * per row, the cheapest Spark encoding): K bytes of BFS distance,
    * -1 = unreached. The reference packs K 3-bit counters per vertex
    * (CompactBoundedCounterVector.java:37-60) for exactly this reason —
    * at K=1200 the state vector IS the memory budget, so width is 1 byte
    * per lane, not a boxed row per (source, vertex). */
  case class VState(id: Long, dist: Array[Byte])

  /** Pointwise-min merge of distance vectors (-1 = unreached).
    *
    * The zero buffer is a zero-LENGTH sentinel, not an all-(-1) vector: a
    * BinaryType aggregation buffer is not round-tripped through an
    * encoder between groups the way array-of-int buffers are, so a
    * mutable all-(-1) `zero` instance could be SHARED across groups and
    * in-place merges would bleed state between vertices. Each group
    * instead allocates exactly one fresh buffer on its first reduce, and
    * in-place mutation stays safe from then on. */
  class MinVec(k: Int) extends Aggregator[VState, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    private def fresh: Array[Byte] = Array.fill(k)(-1: Byte)
    private def mergeInto(b0: Array[Byte], v: Array[Byte]): Array[Byte] = {
      val b = if (b0.length == 0) fresh else b0
      var i = 0
      while (i < b.length) {
        if (v(i) >= 0 && (b(i) < 0 || v(i) < b(i))) b(i) = v(i)
        i += 1
      }
      b
    }
    def reduce(b: Array[Byte], a: VState): Array[Byte] = mergeInto(b, a.dist)
    def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
      if (b2.length == 0) b1 else mergeInto(b1, b2)
    def finish(r: Array[Byte]): Array[Byte] = if (r.length == 0) fresh else r
    def bufferEncoder: Encoder[Array[Byte]] = ExpressionEncoder[Array[Byte]]()
    def outputEncoder: Encoder[Array[Byte]] = ExpressionEncoder[Array[Byte]]()
  }

  /** K simultaneous BFS from `sources` (ordered seed list, K ≤ 127 depth
    * levels). Returns (source, id, dist) rows equal to
    * [[Traversals.bfsDistances]]. */
  def run(spark: SparkSession, edges: DataFrame, sources: Seq[Long], maxDepth: Int): DataFrame = {
    require(maxDepth <= Byte.MaxValue, s"byte-packed distance overflows at depth $maxDepth")
    import spark.implicits._
    val k = sources.length
    var state: Dataset[VState] = spark.createDataset(
      sources.zipWithIndex.map { case (s, i) =>
        VState(s, Array.tabulate(k)(j => if (j == i) 0: Byte else -1: Byte))
      })
    val agg = new MinVec(k)
    // materialize the 2-column edge projection once: the per-depth join
    // otherwise re-plans and re-scans the full derivation every round
    // (r14 — the bfsDistances discipline). Size-gated (r15,
    // Traversals.residentEdges): past the gate the projection streams
    // per depth instead of pinning an edge-sized resident copy.
    val (e2, release) = Traversals.residentEdges(
      edges.select(col("src").cast("long").as("s"),
        col("dst").cast("long").as("t")))

    for (depth <- 1 to maxDepth) {
      val d = depth.toByte
      // scatter from the FRONTIER only (some lane settled at d-1):
      // settled vertices would emit useless all-(-1) proposals per edge
      // per remaining superstep
      val frontier = state.filter(_.dist.contains((d - 1).toByte))
      val proposals = frontier.joinWith(e2,
          col("id") === col("s"))
        .map { case (vs, row) =>
          VState(row.getLong(1),
            vs.dist.map(x => if (x == d - 1) d else -1: Byte))
        }
      // gather: pointwise-min merge of proposals into the state
      // lazy: lineage truncates at plan level; the next round's (or the
      // final count's) action materializes the persisted state (r14 —
      // drops one full vertex-state pass per superstep)
      state = state.union(proposals)
        .groupByKey(_.id)
        .agg(agg.toColumn.name("dist"))
        .map { case (id, dist) => VState(id, dist) }
        .localCheckpoint(false)
    }
    // the state is a chain of lazy checkpoints: one fused count
    // materializes every depth's, after which nothing reads the edge copy
    // and the returned frame reads checkpointed blocks only
    state.queryExecution.toRdd.count()
    release()
    state.flatMap(vs => vs.dist.zipWithIndex.collect {
      case (dist, i) if dist >= 0 => (sources(i), vs.id, dist.toLong)
    }).toDF("source", "id", "dist")
  }
}
