package graft

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReferenceArray
import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** Independent driver-side work run side by side, so the Spark jobs each
  * piece submits share the cluster instead of queueing behind each
  * other.
  */
object Concurrent {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** How long an interrupted [[map]] still waits for its cancelled legs. */
  private val GraceNanos = TimeUnit.SECONDS.toNanos(30)

  /** Runs `f` once per element of `items` on a fixed pool of at most
    * defaultParallelism daemon threads named `threadName`, and returns
    * the results in `items` order. Spark ML's CrossValidator fits
    * independent models the same way.
    *
    * Job group: every leg runs in one job group per call,
    * `<threadName>-<uuid>` with interrupt on cancel, cleared when the leg
    * ends. The pool threads are spawned by the caller, so every other
    * local property of the caller (scheduler pool, custom keys) reaches
    * the legs; the caller's own job group does not, and cancelling it
    * does not cancel the legs — interrupt the caller instead.
    *
    * Join: every leg is awaited. A failure of any type, fatal errors
    * included, is recorded, and the first one in `items` order is
    * rethrown with the later ones suppressed. A leg that succeeded stays
    * done.
    *
    * Interrupt: the first interrupt of the caller cancels the group's
    * running and future jobs, interrupts the running legs and drops the
    * queued ones. The call then waits at most 30 s more for the legs
    * (later interrupts do not extend it) and throws the first leg
    * failure with the `InterruptedException` suppressed, or the
    * `InterruptedException` itself. The interrupt flag is left clear;
    * the thrown failure carries it.
    */
  def map[A, T](s: SparkSession, threadName: String, items: Seq[A])(f: A => T): Seq[T] = {
    val sc = s.sparkContext
    val group = s"$threadName-${java.util.UUID.randomUUID()}"
    val outcomes = new AtomicReferenceArray[Try[T]](items.size)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(items.size, sc.defaultParallelism)),
      (r: Runnable) => { val t = new Thread(r, threadName); t.setDaemon(true); t })
    items.zipWithIndex.foreach { case (a, i) =>
      pool.execute(() => outcomes.set(i,
        try {
          sc.setJobGroup(group, s"$threadName leg=$i", interruptOnCancel = true)
          Success(f(a))
        } catch { case t: Throwable => Failure(t) }
        finally sc.clearJobGroup()))
    }
    pool.shutdown()
    var interrupted: InterruptedException = null
    var deadline = 0L
    // nanoTime: a wall-clock step must not stretch or collapse the grace
    while (!pool.isTerminated && (interrupted == null || deadline - System.nanoTime() > 0))
      try pool.awaitTermination(
        if (interrupted == null) Long.MaxValue else deadline - System.nanoTime(),
        TimeUnit.NANOSECONDS)
      catch { case ie: InterruptedException =>
        if (interrupted == null) {
          interrupted = ie
          deadline = System.nanoTime() + GraceNanos
          // ...AndFutureJobs: a leg still planning when the cancel lands
          // would otherwise submit its job afterwards and run it
          // detached. A stopping context has no live jobs to cancel.
          try sc.cancelJobGroupAndFutureJobs(group) catch { case NonFatal(_) => () }
          pool.shutdownNow()
        }
      }
    if (!pool.isTerminated)
      log.warn(s"$threadName legs still running after the cancellation " +
        "grace; abandoning them (daemon threads, their Spark jobs cancelled)")
    val done = items.indices.map(outcomes.get)
    done.collect { case Failure(t) => t } match {
      case first +: rest =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        if (interrupted != null) first.addSuppressed(interrupted)
        throw first
      case _ =>
        if (interrupted != null) throw interrupted
        done.map(_.get)
    }
  }
}
