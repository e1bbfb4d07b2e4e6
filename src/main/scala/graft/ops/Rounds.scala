package graft.ops

import org.apache.spark.sql.DataFrame

/** The one round skeleton of the iterative operators (PageRank,
  * personalized PageRank, LPA, k-core, connected components, Mondrian,
  * MMR, k-means) and the one lineage cut every operator in `ops/` uses.
  *
  * Every round's state is cut ([[cut]]): an iterative plan that merely
  * persists its state still NESTS every earlier round in its lineage,
  * and the logical tree grows until explain and codegen themselves run
  * out of memory (seen on a 13-round components chain). Cutting each
  * round keeps the plan one round deep. A cut is eager, so each round
  * runs its Spark job when it is built, and a loop's driver-side stop
  * test reads a materialized frame.
  */
object Rounds {

  /** Compute `df` now, in one job, and return a frame that reads the
    * result with no lineage above it.
    *
    * A LOCAL checkpoint, not a reliable `checkpoint(dir)`: the blocks
    * stay in the executors' block managers (memory, spilling to disk),
    * so a cut costs one job and no write to, and no second recompute
    * for, a checkpoint directory the session would have to configure.
    * The price is fault tolerance: a cut frame cannot be recomputed, so
    * losing an executor that holds its blocks fails the query. A
    * deployment on a cluster that loses executors swaps this one line
    * for a reliable checkpoint.
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()

  /** A fixed number of rounds: `init` is cut, then `step(state, round)`
    * runs for round 1 to `rounds`, each result cut. Zero rounds return
    * the cut `init`.
    */
  def fixed(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(cut(init))((state, round) =>
      cut(step(state, round)))

  /** Rounds until the state is stable: `init` is cut as the first
    * round, and while `stable` is false on the latest cut frame,
    * `step` builds the next round from it, which is cut in turn. The
    * stop test reads the materialized cut frame, so a count there is
    * one small job per round. At least one round runs.
    */
  @annotation.tailrec
  def untilStable(init: DataFrame)(step: DataFrame => DataFrame)(
      stable: DataFrame => Boolean): DataFrame = {
    val state = cut(init)
    if (stable(state)) state else untilStable(step(state))(step)(stable)
  }
}
