package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftCache, Observation, Row, SparkSession}
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

/** Tracked local checkpoints. `Dataset.localCheckpoint` pins RDD blocks
  * in executor storage that `Dataset.unpersist` NEVER releases — dataset
  * unpersist only talks to the cache manager, and the checkpoint RDD is
  * not a cache-manager entry. An iterative job that checkpoints per
  * round therefore grows storage monotonically unless it releases the
  * superseded rounds' blocks at the RDD level (round 3's bench showed
  * 13–40× timing inflation from exactly this).
  *
  * `eager` snapshots `sparkContext.getPersistentRDDs` around the
  * checkpoint, so the returned handle knows precisely which RDDs the
  * materialization pinned (public API only — no reach into LogicalRDD).
  * Any cache that happened to materialize inside the same action is
  * captured too; releasing it alongside the checkpoint is safe because
  * the checkpoint result no longer depends on anything upstream.
  * Releasing such a `Dataset.cache()` also drops its cache-manager
  * entry ([[unpin]]): an RDD-level unpersist alone leaves the entry
  * registered, so a later `.cache()` of the same plan would find it,
  * store nothing, and recompute on every read.
  */
object Checkpoints {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class Checkpointed(df: DataFrame, pinned: Seq[RDD[_]]) {
    def release(): Unit = unpin(df.sparkSession, pinned)
  }

  /** Unpersist `rdds`, first dropping the cache-manager entries of the
    * `Dataset.cache()`s among them.
    */
  private def unpin(spark: SparkSession, rdds: Seq[RDD[_]]): Unit = {
    GraftCache.dropEntries(spark, rdds.map(_.id).toSet)
    rdds.foreach(_.unpersist(blocking = false))
  }

  def eager(df: DataFrame): Checkpointed = eagerBuild(df.sparkSession)(df)

  /** Like [[eager]], but the before-snapshot is taken BEFORE `build` is
    * evaluated. This matters when constructing the frame itself runs
    * driver-side actions that pin caches — the stored dedup probes
    * ([[graft.queries.Dedup.d19ProbeDirs]] et al.) collect their
    * candidate-bucket list while BUILDING the result plan, which
    * materializes their internal batch/candidate caches; `eager(probe)`
    * would snapshot after those blocks are already pinned and the
    * handle would never release them (a per-micro-batch leak in a
    * long-running streaming gate). With the thunk form the snapshot
    * brackets construction + checkpoint, so release() frees the probe's
    * internals too.
    */
  def eagerBuild(spark: SparkSession)(
      build: => DataFrame): Checkpointed = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def delta() = sc.getPersistentRDDs
      .collect { case (id, r) if !before.contains(id) => r }.toSeq
    // exception safety: if the builder or the checkpoint throws, the
    // caches pinned so far have no handle — release them before
    // rethrowing, or a failed-and-retried micro-batch leaks per attempt
    val mat =
      try build.localCheckpoint(eager = true)
      catch { case t: Throwable => unpin(spark, delta()); throw t }
    Checkpointed(mat, delta())
  }

  /** Bound on the wait for observed metrics: a query listener posts
    * them just after the job, so a lapse means a stalled listener bus.
    */
  private[graft] val ObserveWait = 10.seconds

  /** [[eager]] with named aggregates that RIDE the checkpoint job via
    * `Dataset.observe`: the handle plus the metrics row, at no extra
    * job. EXACT metrics only — accumulators merge in task-completion
    * order, so a metric may ride only when that order cannot change it:
    * integer counts and sums, and min/max selections (an order-only
    * pick, e.g. `max(struct(score, -id, payload))` for an argmax with a
    * smallest-id tie-break). A double sum never rides — its merge order
    * would jitter the ULPs; scan it off the pinned blocks instead.
    */
  def eagerObserved(df: DataFrame, metric: Column, more: Column*): (Checkpointed, Row) = {
    val obs = Observation()
    val cp = eager(df.observe(obs, metric, more: _*))
    // an interrupted wait must not strand the pin it was waiting on
    try (cp, awaitMetrics(cp.df, obs, metric +: more, ObserveWait))
    catch { case t: Throwable => cp.release(); throw t }
  }

  /** The observed row, or — once `wait` lapses — the same aggregate
    * scanned over `over`, the frame the observation rode (one job,
    * identical value; a checkpoint's pinned blocks, or an unpinned
    * frame's lineage).
    */
  private[graft] def awaitMetrics(over: DataFrame, obs: Observation,
      metrics: Seq[Column], wait: FiniteDuration): Row =
    try Await.result(obs.future, wait)
    catch { case _: TimeoutException =>
      log.warn(s"observed metrics missing after $wait; scanning the frame")
      over.agg(metrics.head, metrics.tail: _*).head()
    }

  /** Run `work` and unpersist every RDD it left pinned. For WRITE legs
    * whose building blocks cache internally (e.g. the MinHash banding's
    * signature cache) and whose result is fully on disk when `work`
    * returns — nothing in memory is needed afterwards, so everything
    * the leg pinned is released. Concurrent legs started and joined
    * inside `work` are fine — the sweep brackets them, e.g. the
    * concurrent payload appends of
    * [[graft.TrainingPipeline.curateIncrementalBatch]]. Spark activity
    * from threads OUTSIDE the sweep on the same session is not: their
    * fresh caches would be swept too. The streaming gates run one
    * micro-batch at a time, so nothing else runs beside their sweeps.
    */
  def sweep[T](spark: SparkSession)(work: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // finally: a throwing write leg must still release what it pinned
    // (a retried micro-batch would otherwise leak one cache per attempt)
    try work
    finally unpin(spark, sc.getPersistentRDDs
      .collect { case (id, r) if !before.contains(id) => r }.toSeq)
  }
}
