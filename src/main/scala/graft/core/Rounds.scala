package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Driver-coordinated rounds over materialized state, and the one place
  * that knows how a round is materialized and freed.
  *
  * Checkpoint policy: [[materialize]] is an eager `localCheckpoint()`.
  * It cuts the lineage, so no consumer re-executes earlier rounds and a
  * plan that reads the previous state twice does not grow 2^rounds.
  * The blocks live on the executors that computed them and a lost
  * executor loses them; a deployment that must survive that swaps in a
  * reliable `checkpoint()` here.
  *
  * A checkpoint's blocks belong to its RDD, not to the cache manager,
  * so `Dataset.unpersist` frees nothing; [[release]] frees them.
  *
  * [[iterate]] contract: a step may read only the previous state and
  * frames that live across the loop. After `iterate` returns, only the
  * returned state may be read: every earlier one, `init` included, has
  * been released.
  */
object Rounds {

  def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Frees the blocks of a [[materialize]]d frame, without blocking.
    * Any other frame (a projection of a checkpoint, a [[Memos.persist]]
    * frame) is left as it is. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: LogicalRDD if r.rdd.isCheckpointed =>
      r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** state_r = materialize(step(state_{r−1}, r)) for r = 1..rounds,
    * ending early after a round whose `stop(prev, next)` holds. `stop`
    * runs after `next` exists and before `prev` is released. Returns
    * the last state. */
  def iterate(init: DataFrame, rounds: Int,
      stop: (DataFrame, DataFrame) => Boolean = (_, _) => false)
      (step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val next = materialize(step(state, r))
      done = stop(state, next)
      release(state)
      state = next
      r += 1
    }
    state
  }

  /** A `stop` that holds once `measure` of a new state equals that of
    * its predecessor; each state is measured once, `init` right away. */
  def unchanged(init: DataFrame)(measure: DataFrame => Long)
      : (DataFrame, DataFrame) => Boolean = {
    var last = measure(init)
    (_, next) => {
      val m = measure(next)
      val same = m == last
      last = m
      same
    }
  }
}
