package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one fixed-point driver: every operator whose loop state is a
  * DataFrame runs its rounds here, and only this module decides how a
  * round is materialized and how a fixed point is detected.
  *
  * Each round is materialized once, as an eager local checkpoint. An
  * iterated plan otherwise nests its whole history: the tree outgrows
  * the analyzer's recursion depth long before the data is big, and AQE
  * re-optimizes the nested tree at every exchange of every round
  * (measured ~1 s of driver re-planning per PageRank round on a
  * sub-second data volume). The checkpoint leaves a flat `LogicalRDD`.
  * A convergent loop's metric is observed (`Dataset.observe`) on the
  * round being materialized, inside the checkpoint's own job, so
  * detecting the fixed point runs no action.
  */
object Iterate {

  /** The final state, the number of rounds run, whether the last round
    * repeated the previous round's metric (never without a metric), and
    * every round's state, round 1 first.
    */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean,
                          states: Vector[DataFrame])

  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Materialize `df` and return the named aggregates `metric` over its
    * rows (count 0 and sum null over an empty `df`), computed by the
    * materializing job; `get` waits for Spark to report them.
    */
  def measure(df: DataFrame, metric: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val obs = new Observation()
    (materialize(df.observe(obs, metric.head, metric.tail: _*)), obs.get)
  }

  /** Exactly `n` rounds; see [[fixpoint]]. */
  def rounds(init: DataFrame, n: Int)(
      step: (Int, DataFrame) => DataFrame): Result =
    fixpoint(init, n, Nil)(step)

  /** Round r = 1, 2, … materializes `step(r, state of round r-1)`,
    * starting from `init`, until a round's `metric` equals the round
    * before's or `maxRounds` have run. `initMetric`, `init`'s own
    * metric from [[measure]], lets round 1 already be the fixed point.
    */
  def fixpoint(init: DataFrame, maxRounds: Int, metric: Seq[Column],
               initMetric: Option[Map[String, Any]] = None)(
      step: (Int, DataFrame) => DataFrame): Result =
    loop(init, maxRounds, metric, initMetric, untilRepeat = true)(
      (r, s, _) => step(r, s))._1

  /** Exactly `n` rounds, each observing `metric` on the round it
    * materializes, with no fixed-point test: round r materializes
    * `step(state, metric)` of round r-1, and round 1 gets `init` and
    * `initMetric` (from [[measure]]). Returns the last round's metric
    * (`initMetric` after 0 rounds) beside the result.
    */
  def carry(init: DataFrame, initMetric: Map[String, Any], n: Int,
            metric: Seq[Column])(
      step: (DataFrame, Map[String, Any]) => DataFrame): (Result, Map[String, Any]) = {
    val (result, last) = loop(init, n, metric, Some(initMetric), untilRepeat = false)(
      (_, s, m) => step(s, m.get))
    (result, last.get)
  }

  private def loop(init: DataFrame, maxRounds: Int, metric: Seq[Column],
                   initMetric: Option[Map[String, Any]], untilRepeat: Boolean)(
      step: (Int, DataFrame, Option[Map[String, Any]]) => DataFrame)
      : (Result, Option[Map[String, Any]]) = {
    var (state, prev, converged, round) = (init, initMetric, false, 0)
    val states = Vector.newBuilder[DataFrame]
    while (!converged && round < maxRounds) {
      round += 1
      val next = step(round, state, prev)
      if (metric.isEmpty) state = materialize(next)
      else {
        val (out, m) = measure(next, metric)
        converged = untilRepeat && prev.contains(m)
        prev = Some(m)
        state = out
      }
      states += state
    }
    (Result(state, round, converged, states.result()), prev)
  }
}
