package graft.api

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The superstep loop every iterative graph operator shares (the
  * Pregel-in-dataflow shape of GraphX, OSDI 2014): each round builds
  * the next state lazily from the last one, and one eager
  * `localCheckpoint()` materializes it — so lineage and Catalyst
  * analysis stay O(1) per round. The same job also reads the round's
  * progress through `Dataset.observe`: the number of rows the round
  * moved, an exact count, so the fixpoint test needs no Spark job of
  * its own. The loop stops on the first round that moved nothing, or
  * at `maxRounds`.
  *
  * Each round logs one INFO line on the `graft.api.Supersteps` logger
  * (operator, round, rows, progress) from the row it already observed.
  */
object Supersteps {

  /** The last state, and whether its round moved nothing (false: the
    * loop stopped at `maxRounds` with rows still moving).
    */
  final case class Outcome(state: DataFrame, converged: Boolean)

  private val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.api.Supersteps")

  /** Runs `step` from `initial` until a round moves no row.
    * `initial` is pinned here, lazily: the first round's checkpoint job
    * materializes it once for every read of the first state, so
    * callers pass a plain plan and pay no job of their own for it.
    *
    * @param operator name in the per-round log line
    * @param step `(state, round)` with rounds from 1 → the next state,
    *             built lazily, and the predicate over its rows that
    *             marks a row the round moved
    */
  def run(operator: String, initial: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => (DataFrame, Column)): Outcome = {
    require(maxRounds >= 1, s"$operator: maxRounds must be >= 1, got $maxRounds")
    var state = initial.localCheckpoint(eager = false)
    var progress = -1L
    var round = 0
    while (progress != 0L && round < maxRounds) {
      round += 1
      val (next, moved) = step(state, round)
      val obs = Observation()
      state = next
        .observe(obs, count(lit(1)).as("rows"), count_if(moved).as("progress"))
        .localCheckpoint()
      // the checkpoint job has run; only the listener bus is left
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(120, "s"))
      progress = row.getAs[Long]("progress")
      log.info(s"$operator round=$round rows=${row.getAs[Long]("rows")} progress=$progress")
    }
    Outcome(state, progress == 0L)
  }
}
