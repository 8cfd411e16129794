package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit, when}

/** The driver-side round loop of graft's iterative Spark operators
  * (q117, q125, q133, q147, q178 and [[ConnectedComponents]]). It owns
  * the rounds (a fixed count, or until a round reports its state
  * stable, up to a cap), the per-round cut, the convergence count and
  * the one cap error. Each operator supplies its step, and persists
  * its loop-invariant inputs and unpersists them in a `finally`.
  *
  * The cut is always `localCheckpoint()`, never [[graft.Lineage.cut]]:
  * that one is a no-op under `graft.keepLineage` and keeps lineage
  * under `spark.graft.lineageCut=disk`, and an uncut round holds the
  * previous round's plan more than once (twice in CC, three times in
  * k-core), so every later action would re-run all earlier rounds.
  *
  * The convergence count is an `observe` on the frame being cut: it
  * arrives with the checkpoint's own jobs, so a round pays no separate
  * `isEmpty`/`count()` job. It is read only after the checkpoint has
  * returned, because `Observation.get` for an action that never ran
  * blocks with no deadline.
  */
object Fixpoint {

  /** A loop reached its round cap with its state still changing. */
  final class NotConverged(val op: String, val round: Long)
      extends IllegalStateException(s"$op did not converge by round $round, its cap")

  /** The per-round cut: materializes `df` and replaces its plan with a
    * scan of the materialized blocks.
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()

  /** [[cut]] of `df`, and the number of its rows for which `counted`
    * holds, observed during the cut's own jobs.
    */
  def cutCount(df: DataFrame, counted: Column = lit(true)): (DataFrame, Long) = {
    val obs = Observation()
    val out = cut(df.observe(obs, count(when(counted, 1)).as("n")))
    (out, obs.get("n").asInstanceOf[Long])
  }

  /** Runs exactly `n` rounds; `step` gets the state and the 1-based
    * round number.
    */
  def rounds[S](n: Int)(init: S)(step: (S, Int) => S): S =
    (1 to n).foldLeft(init)(step)

  /** Runs rounds until `step` reports the state it returns as stable.
    * Raises [[NotConverged]] naming `op` when round `cap` is not.
    */
  def untilStable[S](op: String, cap: Long)(init: S)(step: S => (S, Boolean)): S = {
    @tailrec def loop(state: S, round: Long): S = step(state) match {
      case (next, true) => next
      case _ if round >= cap => throw new NotConverged(op, round)
      case (next, false) => loop(next, round + 1)
    }
    loop(init, 1)
  }
}
