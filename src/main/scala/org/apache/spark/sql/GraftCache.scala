package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{CacheManager, CachedData}
import org.apache.spark.sql.execution.columnar.CachedRDDBuilder

/** Cache-manager bridge for graft's RDD-level releases
  * ([[graft.Checkpoints]]). Unpersisting a `Dataset.cache()`'s buffer
  * RDD frees its blocks but leaves its CacheManager entry registered:
  * a later `.cache()` of an identical plan then finds the dead entry,
  * stores nothing, and every read recomputes. This drops the entries
  * whose materialized buffers are among a set of RDD ids.
  *
  * The manager lists its entries only privately, so the two fields are
  * read reflectively (Spark 4.1's `CacheManager.cachedData` and
  * `CachedRDDBuilder._cachedColumnBuffers`); the drop itself is the
  * public `uncacheQuery`. Lives in Spark's package beside
  * [[GraftNative]] for the classic session's `sharedState`.
  */
object GraftCache {

  private def field(c: Class[_], name: String) = {
    val f = c.getDeclaredField(name); f.setAccessible(true); f
  }

  private lazy val entriesField = field(classOf[CacheManager], "cachedData")
  private lazy val buffersField =
    field(classOf[CachedRDDBuilder], "_cachedColumnBuffers")

  /** Drops every cache-manager entry whose buffer RDD id is in
    * `rddIds`, without cascading to dependent entries.
    */
  def dropEntries(spark: SparkSession, rddIds: Set[Int]): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val cm = session.sharedState.cacheManager
    if (rddIds.isEmpty || cm.isEmpty) return
    val dead = entriesField.get(cm).asInstanceOf[IndexedSeq[CachedData]]
      .filter { cd =>
        val buffers = buffersField.get(cd.cachedRepresentation.cacheBuilder)
          .asInstanceOf[RDD[_]]
        buffers != null && rddIds(buffers.id)
      }
    dead.foreach(cd =>
      cm.uncacheQuery(session, cd.plan, cascade = false, blocking = false))
  }
}
