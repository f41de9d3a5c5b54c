package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one concurrency primitive's contract: ordered results, ordered
  * failures with the rest suppressed, fatal errors and caller
  * interrupts that end the call instead of wedging or orphaning it, a
  * per-call job group, and no second runner anywhere in the library.
  * Every call that could hang runs on a test-side thread with a bounded
  * join, so a broken primitive fails a test instead of the suite.
  */
class ConcurrentSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def alive(name: String): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == name && t.isAlive)

  /** Waits (bounded) for a finished pool's workers to exit. */
  private def assertNoThreads(name: String): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    while (alive(name).nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(alive(name).isEmpty, s"$name threads still alive")
  }

  private def carriesInterrupt(t: Throwable): Boolean =
    (t +: t.getSuppressed.toSeq).exists(_.isInstanceOf[InterruptedException])

  /** Starts `body` on its own caller thread; the throwable it ends with
    * lands in the returned reference.
    */
  private def caller(body: => Unit): (Thread, AtomicReference[Throwable]) = {
    val thrown = new AtomicReference[Throwable]
    val t = new Thread(() => try body catch { case e: Throwable => thrown.set(e) },
      "concurrent-spec-caller")
    t.setDaemon(true)
    t.start()
    (t, thrown)
  }

  test("results come back in items order when legs finish in reverse order") {
    val finished = new ConcurrentLinkedQueue[Int]
    val out = Concurrent.map(spark, "cspec-order", Seq(0, 1, 2, 3)) { i =>
      Thread.sleep((4 - i) * 300L)
      finished.add(i)
      i * 10
    }
    assert(finished.asScala.toSeq == Seq(3, 2, 1, 0))
    assert(out == Seq(0, 10, 20, 30))
    assertNoThreads("cspec-order")
  }

  test("two failing legs: the earlier item's failure is thrown, the later suppressed, after a slow leg succeeded") {
    val first = new IllegalStateException("leg 1")
    val second = new IllegalArgumentException("leg 2")
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.map(spark, "cspec-fail", Seq(0, 1, 2)) {
        case 0 => Thread.sleep(1500); slowDone.set(true)
        case 1 => Thread.sleep(300); throw first
        case _ => throw second
      }
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(second))
    assert(slowDone.get(), "the call returned before its slow leg finished")
    assertNoThreads("cspec-fail")
  }

  test("legs inherit the caller's local properties but run in their own job group; the caller's group is unchanged") {
    val sc = spark.sparkContext
    sc.setJobGroup("cspec-caller-group", "caller")
    sc.setLocalProperty("graft.cspec.key", "from-caller")
    try {
      val seen = Concurrent.map(spark, "cspec-props", Seq(0, 1)) { _ =>
        (sc.getLocalProperty("graft.cspec.key"), sc.getLocalProperty("spark.jobGroup.id"))
      }
      assert(seen.map(_._1) == Seq("from-caller", "from-caller"))
      val groups = seen.map(_._2).distinct
      assert(groups.size == 1, s"legs of one call saw groups $groups")
      assert(groups.head != "cspec-caller-group")
      assert(groups.head.startsWith("cspec-props-"), groups.head)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "cspec-caller-group")
      assert(sc.getLocalProperty("graft.cspec.key") == "from-caller")
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.cspec.key", null)
    }
  }

  test("a leg's fatal error fails the call instead of hanging it") {
    val (t, thrown) = caller {
      Concurrent.map(spark, "cspec-fatal", Seq(0, 1)) { i =>
        if (i == 0) throw new StackOverflowError("planted") else i
      }
    }
    t.join(20000)
    assert(!t.isAlive, "a StackOverflowError in one leg hung the call")
    assert(thrown.get().isInstanceOf[StackOverflowError], String.valueOf(thrown.get()))
    assertNoThreads("cspec-fatal")
  }

  test("interrupting the caller cancels the legs' Spark jobs and returns within the grace") {
    val sc = spark.sparkContext
    val name = "cspec-interrupt"
    val probeKey = "graft.cspec.probe"
    val jobIds = new ConcurrentLinkedQueue[Int]
    val started = new CountDownLatch(1)
    val ended = new LinkedBlockingQueue[JobResult]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(probeKey) == name)) {
          jobIds.add(j.jobId); started.countDown()
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (jobIds.contains(j.jobId)) ended.add(j.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      val (t, thrown) = caller {
        sc.setLocalProperty(probeKey, name)
        import spark.implicits._
        Concurrent.map(spark, name, Seq(0, 1)) { i =>
          if (i == 0)
            spark.range(0, 4, 1, 4).map { x => Thread.sleep(60000); x.longValue }.count()
          else 0L
        }
      }
      assert(started.await(60, TimeUnit.SECONDS), "the leg's job never started")
      val t0 = System.nanoTime()
      t.interrupt()
      t.join(45000) // the 30 s grace plus slack
      val secs = (System.nanoTime() - t0) / 1e9
      assert(!t.isAlive, "the interrupted call did not return")
      assert(secs < 40, s"the interrupted call took $secs s")
      val result = ended.poll(20, TimeUnit.SECONDS)
      assert(result != null, "the leg's job never ended")
      assert(result != JobSucceeded, "the leg's job was not cancelled")
      assert(thrown.get() != null && carriesInterrupt(thrown.get()),
        s"thrown ${thrown.get()} carries no InterruptedException")
      assertNoThreads(name)
    } finally {
      jobIds.asScala.foreach(sc.cancelJob)
      sc.removeSparkListener(listener)
    }
  }

  test("interrupting the caller drops legs still queued behind a full pool") {
    val poolSize = spark.sparkContext.defaultParallelism
    val running = new CountDownLatch(poolSize)
    val queuedRan = new AtomicBoolean(false)
    val (t, thrown) = caller {
      Concurrent.map(spark, "cspec-queued", 0 to poolSize) { i =>
        if (i == poolSize) queuedRan.set(true)
        else { running.countDown(); Thread.sleep(60000) }
      }
    }
    assert(running.await(20, TimeUnit.SECONDS), "the pool never filled")
    t.interrupt()
    t.join(45000)
    assert(!t.isAlive, "the interrupted call did not return")
    assert(carriesInterrupt(thrown.get()), String.valueOf(thrown.get()))
    assertNoThreads("cspec-queued")
    assert(!queuedRan.get(), "a leg queued at the interrupt still ran")
  }

  test("one runner: job groups and raw threads appear only in Concurrent and the store-lock heartbeat") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val sources = walk(root).filter(_.getName.endsWith(".scala")).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
    def holders(token: String): Set[String] =
      sources.collect { case (p, text) if text.contains(token) => p }.toSet
    val concurrent = Set("graft/Concurrent.scala")
    assert(holders("setJobGroup") == concurrent)
    assert(holders("cancelJobGroup") == concurrent)
    assert(holders("new Thread(") ==
      concurrent + "graft/streaming/GateStore.scala")
  }
}
