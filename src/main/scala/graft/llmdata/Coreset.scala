package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Memos, Rounds}

/** Coreset selection by k-center greedy (farthest-first traversal) —
  * Gonzalez 1985's 2-approximation to the k-center cover, used as the
  * embedding-space data-pruning rule for training sets (Sener &
  * Savarese, "Active Learning for Convolutional Neural Networks: A
  * Core-Set Approach", ICLR 2018): repeatedly pick the point FARTHEST
  * from everything selected so far, so the chosen subset covers the
  * corpus with the smallest possible radius — the opposite bias of
  * random sampling, which oversamples dense modes and drops tails.
  *
  * Scale shape: the corpus-sized state is ONE persisted frame
  * (id, vec, min-dist-to-selected) updated per step with a single
  * scan-fused `least(prev, dist-to-newest-center)` projection — the
  * newest center rides in as a BROADCAST 1-row frame (no driver
  * collect of vectors, no k×corpus distance matrix; the classic
  * farthest-first invariant that each step only needs distances to the
  * NEWEST center). Selection itself is a TakeOrdered(1) on
  * (round(d, 6) DESC, id ASC) — integer-free but deterministic: ties
  * in the quantized distance break toward the smaller id, exactly
  * replayable by an independent engine. k is small by construction
  * (a coreset budget), so the k-step loop is driver-coordinated the
  * same way KMeans' Lloyd iterations are; lineage is truncated per
  * step.
  *
  * Output: one row per selection step — (step, center_id, radius)
  * where radius is the selected point's min-distance (squared
  * euclidean) to the previously-selected set, i.e. the k-center cover
  * radius TRAJECTORY (non-increasing after step 1); step 0 is the
  * deterministic seed (smallest id, radius 0.0).
  */
object Coreset {

  /** Squared euclidean distance between two array<double> columns as a
    * left-to-right indexed fold — the summation-order convention every
    * embedding gate shares with its oracle.
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** @param df   corpus with `idCol` (integral) and `vecCol`
    *             (array<float> or array<double>, uniform length)
    * @param k    coreset size (number of selected centers, incl. seed)
    */
  def kCenterGreedy(df: DataFrame, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pts = Memos.persist(df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v")))

    // deterministic seed: the smallest id (1-row broadcast, no collect)
    val seed = pts.orderBy(col("__id")).limit(1)
    var centers = seed.select(col("__id").as("step_id"), lit(0).as("step"),
      lit(0.0).as("radius"))
    // the farthest point from the selected set, appended to `centers`;
    // materialized once, it feeds both the output and the next state
    def pick(state: DataFrame, step: Int): DataFrame = {
      val top = Rounds.materialize(state
        .orderBy(round(col("__d"), 6).desc, col("__id").asc).limit(1))
      centers = centers.unionByName(top.select(col("__id").as("step_id"),
        lit(step).as("step"), round(col("__d"), 6).as("radius")))
      top
    }
    // state: min squared distance to the selected set so far
    val init = Rounds.materialize(pts
      .crossJoin(broadcast(seed.select(col("__v").as("__cv"))))
      .select(col("__id"), col("__v"),
        sqDist(col("__v"), col("__cv")).as("__d")))
    val last = Rounds.iterate(init, k - 2) { (state, step) =>
      val top = pick(state, step)
      state
        .crossJoin(broadcast(top.select(col("__v").as("__cv"))))
        .select(col("__id"), col("__v"),
          least(col("__d"), sqDist(col("__v"), col("__cv"))).as("__d"))
    }
    if (k > 1) pick(last, k - 1)
    Rounds.release(last)
    centers.select(col("step").cast("int").as("step"),
      col("step_id").as("center_id"), col("radius"))
  }
}
