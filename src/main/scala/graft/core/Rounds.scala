package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, when}

/** The driver loop every iterative operator is (the driver-side twin of
  * ralf's one operator loop, ralf/v2/operator.py:121-175, and of
  * [[KeyedFold]] for per-key folds): a state, a `step` per round that
  * returns the next state and whether the loop is done, and a round cap.
  * Operators supply the step; the driver owns the round counter, the
  * stop rule, the cap and the round label.
  *
  * Each round runs with the local property [[Label]] set to
  * `<op>/round-<n>`, so every job the round submits (AQE stage jobs
  * included: they inherit the caller's local properties) carries it in
  * its `onJobStart` properties — [[graft.metrics.Capture]] counts jobs
  * per round by it. A run nested inside another's round appends to the
  * parent's label (`louvainMultiLevel/round-2/louvainWeightedCore/round-3`);
  * the previous value comes back when the run ends. The job group (which
  * Bench and Capture count by) is never touched.
  *
  * The driver adds no Spark action: a round materializes through the
  * operator's own one action, usually [[countWhere]] over the round's
  * [[checkpoint]].
  */
private[graft] object Rounds {

  /** The local property naming the round a job belongs to. */
  val Label = "graft.round"

  /** The final state, the rounds run, and whether a step said done
    * (false: the loop stopped at its cap).
    */
  final case class Outcome[S](state: S, rounds: Int, converged: Boolean)

  /** The one named failure of a loop that must converge and ran out of
    * rounds.
    */
  final case class NotConverged(op: String, maxRounds: Int)
      extends IllegalStateException(s"$op did not converge in $maxRounds rounds")

  /** Run `step(state, round)` for rounds 1, 2, … until it returns done or
    * `maxRounds` rounds have run (`maxRounds` = 0 returns `init`). Fixed-
    * round algorithms ignore `converged`; a loop that must converge
    * throws [[NotConverged]] on `!converged`.
    */
  def run[S](op: String, init: S, maxRounds: Int)(step: (S, Int) => (S, Boolean)): Outcome[S] = {
    require(maxRounds >= 0, s"$op: maxRounds must be non-negative, got $maxRounds")
    val sc = SparkSession.active.sparkContext
    val parent = sc.getLocalProperty(Label)
    val prefix = Option(parent).fold("")(_ + "/")
    var state = init
    var round = 0
    var done = false
    try {
      while (round < maxRounds && !done) {
        round += 1
        sc.setLocalProperty(Label, s"$prefix$op/round-$round")
        val (next, stop) = step(state, round)
        state = next
        done = stop
      }
    } finally sc.setLocalProperty(Label, parent)
    Outcome(state, round, done)
  }

  /** The in-loop materialization rule: a LAZY `localCheckpoint` (the
    * round's one action fills it) with its estimated statistics reset.
    * Spark 4 carries the child plan's size estimate into a checkpoint's
    * LogicalRDD; a round that joins the previous round's checkpoint k
    * times multiplies it, so without the reset the BigInt estimate grows
    * geometrically until the driver wedges in stats estimation (the
    * louvainMultiLevel level-3 incident: minutes per round planning a
    * 63-edge graph). One-time checkpoints outside loops do not compound.
    */
  def checkpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.resetStats(df.localCheckpoint(false))

  /** Materialize a freshly [[checkpoint]]ed round frame AND count its
    * rows satisfying `pred`, in ONE job. An `isEmpty`/`take(1)` probe
    * would cost two: it computes a partition prefix, and the checkpoint's
    * `doCheckpoint` hook then launches a fill-in job for the partitions
    * it skipped. One full-scan aggregate computes every partition once.
    */
  def countWhere(ckpt: DataFrame, pred: Column): Long =
    ckpt.agg(count(when(pred, lit(1)))).collect()(0).getLong(0)
}
