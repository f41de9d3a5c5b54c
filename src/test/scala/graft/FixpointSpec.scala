package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

object FixpointSpec {
  /** The round whose plan the spec's UDF fails in; -1 never. */
  @volatile var failAt: Long = -1L
}

/** The fixed-point driver's pin contract: a normal exit leaves only the
  * kept result pinned and holds one state at a time; every fault — the
  * step's plan builder, a UDF inside the step's plan, the stop test, a
  * caller's throw on an exhausted round budget — leaves no persistent
  * RDD beyond those that existed before the call and propagates the
  * original exception. Plus the guard that every pin goes through
  * `Checkpoints`.
  */
class FixpointSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val boom = udf { (r: Long) =>
    if (r == FixpointSpec.failAt) throw new IllegalStateException(s"udf boom at round $r")
    r
  }.asNondeterministic()

  /** A counting loop: an 8-row static table, and a 1000-row state whose
    * `r` column holds the round; the round rides each checkpoint as an
    * observed max. `onStep` runs in the step's plan builder, `onStop` in
    * the stop test, each with the round number.
    */
  private def counting(fx: Fixpoint, maxRounds: Int, stopAt: Long,
      onStep: Long => Unit = _ => (), onStop: Long => Unit = _ => ()): Fixpoint.Result[Long] = {
    val keys = fx.static(Checkpoints.eager(spark.range(0, 8, 1, 2).toDF("k")))
    def plan(df: DataFrame) = Fixpoint.Plan(df, max(col("r")).as("r"))((_, m) => m.getLong(0))
    fx.iterate(maxRounds, plan(spark.range(0, 1000, 1, 4).select(col("id"), lit(0L).as("r")))) {
      (state, r) =>
        onStep(r + 1)
        plan(state.join(broadcast(keys), col("id") % 8 === col("k"))
          .select(col("id"), boom(col("r") + 1).as("r")))
    } { r => onStop(r); r >= stopAt }
  }

  /** Runs `body`, expecting it to throw; asserts the pins are back to
    * where they were and returns the exception.
    */
  private def leavesNoPin(body: => Any): Throwable = {
    val before = pinned
    val thrown = intercept[Throwable](body)
    assert(pinned -- before == Set.empty, s"the fault left pins behind: $thrown")
    thrown
  }

  test("normal exit: one state pinned per round, only the kept result outlives the loop") {
    val before = pinned
    val perRound = ArrayBuffer.empty[Int]
    val (kept, res) = Fixpoint.run { fx =>
      val res = counting(fx, 20, 6, onStep = _ => perRound += (pinned -- before).size)
      (fx.keep(res.state), res)
    }
    try {
      assert(res.rounds == 6 && res.stopped && res.signal == 6L)
      // the static table plus the current state, whatever the round
      assert(perRound == Seq.fill(6)(2), perRound)
      assert(pinned -- before == kept.pinned.map(_.id).toSet)
      assert(kept.df.agg(min(col("r")), max(col("r"))).head().toSeq == Seq(6L, 6L))
    } finally kept.release()
    assert(pinned -- before == Set.empty)
  }

  test("the step's plan builder throws at round 3") {
    val err = new IllegalStateException("builder")
    val thrown = leavesNoPin(Fixpoint.run(counting(_, 20, 10, onStep = r => if (r == 3) throw err)))
    assert(thrown eq err)
  }

  test("a UDF in the step's plan throws at round 3") {
    FixpointSpec.failAt = 3L
    val thrown = try leavesNoPin(Fixpoint.run(counting(_, 20, 10))) finally FixpointSpec.failAt = -1L
    val chain = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("udf boom at round 3")),
      s"not the job's own failure: $thrown")
  }

  test("the stop test throws at round 3") {
    val err = new IllegalStateException("stop")
    val thrown = leavesNoPin(Fixpoint.run(counting(_, 20, 10, onStop = r => if (r == 3) throw err)))
    assert(thrown eq err)
  }

  test("an exhausted round budget: the result says so, and the caller's throw releases every pin") {
    val err = new IllegalStateException("did not converge")
    val thrown = leavesNoPin(Fixpoint.run { fx =>
      val res = counting(fx, 4, 10)
      assert(res.rounds == 4 && !res.stopped && res.signal == 4L)
      throw err
    })
    assert(thrown eq err)
  }

  test("an input is released once the first state pins; a throw after keep releases the kept pin too") {
    val before = pinned
    val input = Checkpoints.eager(spark.range(0, 100, 1, 2).toDF("id"))
    val seen = ArrayBuffer.empty[Set[Int]]
    val err = new IllegalStateException("after keep")
    val thrown = leavesNoPin(Fixpoint.run { fx =>
      val raw = fx.input(input)
      val res = fx.iterate(3, Fixpoint.Plan(raw.select(col("id"), lit(0L).as("r")))((_, _) => 0L)) {
        (state, r) =>
          seen += pinned -- before
          Fixpoint.Plan(state.select(col("id"), (col("r") + 1).as("r")))((_, _) => r + 1)
      } (_ => false)
      fx.keep(res.state)
      throw err
    })
    assert(thrown eq err)
    assert(seen.length == 3 && seen.forall(s => s.size == 1 && (s & input.pinned.map(_.id).toSet).isEmpty),
      s"pins seen by the rounds: $seen")
  }

  test("one pinning path: localCheckpoint( appears in src/main only in Checkpoints.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val holders = walk(root).filter(_.getName.endsWith(".scala")).collect {
      case f if new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .contains("localCheckpoint(") => root.toPath.relativize(f.toPath).toString
    }.toSet
    assert(holders == Set("graft/Checkpoints.scala"))
  }
}
