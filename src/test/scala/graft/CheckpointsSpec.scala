package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.Await
import scala.concurrent.duration._

/** Observed checkpoint metrics: they fire under an eager
  * localCheckpoint and are exact, and the bounded wait falls back to a
  * scan of the pinned blocks when they never arrive. Releases drop the
  * cache-manager entries of the caches they unpersist.
  */
class CheckpointsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("an observed count equals count() under eager localCheckpoint on a multi-partition frame") {
    val df = spark.range(0, 200000, 1, 8).toDF("id")
      .filter(col("id") % 7 =!= 3)
      .repartition(5, col("id") % 11)
    val obs = Observation()
    val cp = Checkpoints.eager(df.observe(obs, count(lit(1)).as("n")))
    try {
      assert(cp.df.rdd.getNumPartitions > 1)
      // throws if the metrics never fire
      val observed = Await.result(obs.future, 30.seconds).getLong(0)
      assert(observed == cp.df.count())
      assert(observed == df.count())
    } finally cp.release()
  }

  test("a never-firing observation falls back to scanning the checkpoint within the bound") {
    val cp = Checkpoints.eager(spark.range(0, 10000, 1, 4).toDF("id"))
    try {
      val t0 = System.nanoTime()
      // the observation is never attached to any frame, so it never fires
      val row = Checkpoints.awaitMetrics(cp.df, Observation(),
        Seq(count(lit(1)).as("n"), sum(col("id")).as("s")), 200.millis)
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(row.getLong(0) == 10000L && row.getLong(1) == 49995000L)
      assert(ms >= 200 && ms < 10000, s"fallback took $ms ms")
    } finally cp.release()
  }

  test("eagerObserved returns the checkpoint and its exact metrics in one job") {
    val df = spark.range(0, 50000, 1, 6).toDF("id").filter(col("id") % 5 === 1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (cp, m) =
      try Checkpoints.eagerObserved(df, count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(id))"), lit(0L)).as("x"))
      finally {
        Thread.sleep(1000) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(listener)
      }
    try {
      assert(jobs.get() == 1, s"${jobs.get()} jobs for one observed checkpoint")
      val scanned = cp.df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(id))"), lit(0L))).head()
      assert(m.getLong(0) == 10000L && m.getLong(0) == scanned.getLong(0))
      assert(m.getLong(1) == scanned.getLong(1))
    } finally cp.release()
  }

  /** RDD ids that `body` newly persisted, and how many of their
    * partitions hold blocks afterwards.
    */
  private def cachedPartitions(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    val fresh = sc.getPersistentRDDs.keySet -- before
    sc.getRDDStorageInfo.filter(i => fresh(i.id)).map(_.numCachedPartitions).sum
  }

  test("release and sweep drop the cache-manager entry of a cache they unpersist; re-caching stores blocks") {
    import org.apache.spark.storage.StorageLevel
    def base(k: Int) = spark.range(0, 20000, 1, 4).toDF("id")
      .withColumn("x", col("id") * k % 13)
    val viaCheckpoint = base(7)
    val cp = Checkpoints.eagerBuild(spark) {
      viaCheckpoint.cache().groupBy(col("x")).count()
    }
    assert(viaCheckpoint.storageLevel != StorageLevel.NONE)
    cp.release()
    // an RDD-level unpersist alone leaves the entry: the same plan would
    // then re-cache nothing
    assert(viaCheckpoint.storageLevel == StorageLevel.NONE,
      "release left the cache-manager entry behind")
    try assert(cachedPartitions(viaCheckpoint.cache().count()) > 0,
      "re-caching the released plan stored no blocks")
    finally viaCheckpoint.unpersist(blocking = true)

    val viaSweep = base(11)
    Checkpoints.sweep(spark)(viaSweep.cache().count())
    assert(viaSweep.storageLevel == StorageLevel.NONE,
      "sweep left the cache-manager entry behind")
    try assert(cachedPartitions(viaSweep.cache().count()) > 0)
    finally viaSweep.unpersist(blocking = true)
  }
}
