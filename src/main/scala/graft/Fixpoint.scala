package graft

import graft.Checkpoints.Checkpointed
import org.apache.spark.sql.{Column, DataFrame, Row}
import scala.collection.mutable.ArrayBuffer

/** The one driver for checkpointed loops that iterate to a fixed point
  * (g1 PageRank, g2 HITS, the star connected components, greedy
  * k-center). Inside [[Fixpoint.run]] it owns every pin the loop makes:
  * the [[static]] tables every round reads, an [[input]] needed only to
  * build the first state, and each round's state, pinned through
  * [[Checkpoints.eager]] or [[Checkpoints.eagerObserved]] with the
  * round's exact signal riding it. A superseded state is released as
  * soon as the next one is pinned and its signal read (the read may
  * still compare against it); on return every pin but the one passed to
  * [[keep]] is released, and on any throw — a failed job, an interrupt, a
  * throwing plan builder or stop test, a non-convergence throw — every
  * pin is, before the exception propagates.
  */
final class Fixpoint private () {

  private val pins = ArrayBuffer.empty[Checkpointed]
  private val inputs = ArrayBuffer.empty[Checkpointed]
  private var kept: Option[Checkpointed] = None

  private def hold(cp: Checkpointed): Checkpointed = {
    if (!pins.contains(cp)) pins += cp
    cp
  }

  private def drop(cp: Checkpointed): Unit = { pins -= cp; cp.release() }

  /** Adopt the caller's pin of the raw input; released once the first state is pinned. */
  def input(cp: Checkpointed): DataFrame = { inputs += hold(cp); cp.df }

  /** Pin a table every round reads; released when the loop returns. */
  def static(cp: => Checkpointed): DataFrame = hold(cp).df

  /** Pin `cp` (or take one held here) as the result that outlives the loop. */
  def keep(cp: => Checkpointed): Checkpointed = { kept = Some(hold(cp)); kept.get }

  private def pin[S](p: Fixpoint.Plan[S]): (Checkpointed, S) = {
    val (cp, metrics) =
      if (p.exact.isEmpty) (hold(Checkpoints.eager(p.df)), Row.empty)
      else {
        val (c, m) = Checkpoints.eagerObserved(p.df, p.exact.head, p.exact.tail: _*)
        (hold(c), m)
      }
    (cp, p.signal(cp.df, metrics))
  }

  /** Pin `init`, then `step(state, signal)` round after round, until
    * `stop(signal)` holds (tested on the first state too) or
    * `maxRounds` rounds have run.
    */
  def iterate[S](maxRounds: Int, init: Fixpoint.Plan[S])(
      step: (DataFrame, S) => Fixpoint.Plan[S])(stop: S => Boolean): Fixpoint.Result[S] = {
    var (cur, signal) = pin(init)
    inputs.foreach(drop)
    inputs.clear()
    var rounds = 0
    var stopped = stop(signal)
    while (!stopped && rounds < maxRounds) {
      val (next, nextSignal) = pin(step(cur.df, signal))
      drop(cur)
      cur = next
      signal = nextSignal
      rounds += 1
      stopped = stop(signal)
    }
    Fixpoint.Result(cur, signal, rounds, stopped)
  }
}

object Fixpoint {

  /** A state to pin: its plan, the EXACT metrics that ride its
    * checkpoint (see [[Checkpoints.eagerObserved]]), and its signal,
    * read off the pinned frame and the row of those metrics (empty when
    * there are none) — a double sum is a scan there, never a metric.
    */
  final case class Plan[S](df: DataFrame, exact: Column*)(val signal: (DataFrame, Row) => S)

  /** The final state (released on return unless kept), its signal, the
    * rounds run after the first state, and whether the stop test fired.
    */
  final case class Result[S](state: Checkpointed, signal: S, rounds: Int, stopped: Boolean)

  /** Run `body` with a fresh [[Fixpoint]], then release every pin it
    * holds: all of them on a throw, all but the kept one on return.
    */
  def run[T](body: Fixpoint => T): T = {
    val fx = new Fixpoint
    val out =
      try body(fx)
      catch { case t: Throwable => fx.pins.foreach(_.release()); throw t }
    fx.pins.filterNot(fx.kept.contains).foreach(_.release())
    out
  }
}
