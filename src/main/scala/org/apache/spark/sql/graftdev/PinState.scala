package org.apache.spark.sql.graftdev

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** What the pin scope (`graft.Traversals.pinned`) asks of Spark's
  * private cache and block state, hence this shim package. A cache is
  * an opaque handle, compared with `eq`. */
object PinState {
  /** The cache of the persisted frame `df`. */
  def cacheOf(df: DataFrame): AnyRef = {
    val qe = df.queryExecution
    qe.sparkSession.sharedState.cacheManager.lookupCachedData(qe.sparkSession, qe.analyzed)
      .get.cachedRepresentation.cacheBuilder
  }

  /** The cache `node` reads, if it is a cached relation. */
  def cacheRead(node: LogicalPlan): Option[AnyRef] =
    Some(node).collect { case m: InMemoryRelation => m.cacheBuilder }

  /** The RDD of `cache`, once an action has built it. */
  def builtRdd(cache: AnyRef): Option[RDD[_]] =
    Some(cache).collect { case b: CachedRDDBuilder if b.isCachedColumnBuffersLoaded => b.cachedColumnBuffers }

  /** Whether every partition of `rdd` is a stored block. */
  def stored(rdd: RDD[_]): Boolean = SparkEnv.get.blockManager.master.getLocations(
    rdd.partitions.indices.map(i => RDDBlockId(rdd.id, i): BlockId).toArray).forall(_.nonEmpty)
}
