package graft

import org.apache.spark.sql.SparkSession

/** Independent driver-side work run side by side, so the Spark jobs each
  * piece submits share the cluster instead of queueing behind each
  * other.
  */
object Concurrent {

  /** Runs `f` once per element of `items` on a fixed pool of at most
    * defaultParallelism daemon threads named `threadName`, and returns
    * the results in `items` order. The pool is created per call: its
    * threads are spawned by the caller, so they inherit the caller's
    * Spark local properties (job group, scheduler pool). Every call is
    * awaited before the first failure, in `items` order, is rethrown,
    * so no call outlives this one. Spark ML's CrossValidator fits
    * independent models the same way.
    */
  def map[A, T](s: SparkSession, threadName: String, items: Seq[A])(f: A => T): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(items.size, s.sparkContext.defaultParallelism)),
      (r: Runnable) => { val t = new Thread(r, threadName); t.setDaemon(true); t })
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val futures = items.map(a => Future(f(a)))
      futures.map(fut => scala.util.Try(Await.result(fut, Duration.Inf))).map(_.get)
    } finally pool.shutdown()
  }
}
