package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Memos, Rounds}

/** Deterministic uniform random-walk corpus generation (DeepWalk,
  * Perozzi, Al-Rfou & Skiena KDD'14; equals node2vec with p = q = 1,
  * Grover & Leskovec KDD'16): from every seed node start
  * `walksPerNode` walks of `steps` hops, each hop moving to a
  * uniformly-chosen neighbor. The walk corpus is the training input
  * for skip-gram graph embeddings — at 100 TB this is how link
  * structure becomes an embedding table.
  *
  * Determinism (the house md5-draw convention, the same construction
  * the Feistel epoch shuffle and hash splits use): hop `i` of walk `w`
  * draws
  *
  *   idx = md5("{salt}{w}-{i}")[0,15) hex → BIGINT  mod  deg(cur)
  *
  * and moves to cur's `idx`-th neighbor in ascending-id order. Both
  * the draw and the neighbor ranking are engine-replayable (DuckDB:
  * `('0x' || substr(md5(..),1,15))::BIGINT % deg` + `row_number()`),
  * so the ENTIRE trajectory set is exact-gateable — no RNG state, no
  * seed tape; re-running any hop is idempotent.
  *
  * Scale shape: the neighbor ranking (one per-node window, partitions
  * bounded by degree — the coreness sorter shape) and the degree frame
  * are built ONCE from the shared symmetrized edge frame and persisted.
  * Each hop is then two equi-joins, both keyed on the current node id:
  * frontier ⋈ degrees (to size the modulus) and frontier ⋈ ranked
  * edges on (node, rank) — output exactly one row per live walker.
  * Per-hop cost is O(|walkers|) rows moved, never edge-sized; the
  * frontier is checkpointed per hop so the k-hop plan never re-executes
  * prefix hops. Hub skew is a non-issue: the (node, rank) join key is
  * unique on the edge side.
  *
  * Dead ends: a walker standing on a node with no out-neighbors in
  * `sym` stops — its remaining hops are simply absent (inner-join
  * semantics). On a symmetrized frame every node reachable by a walk
  * has degree ≥ 1, so walks only shorten if the caller seeds a node
  * outside the graph.
  */
object RandomWalks {

  /** @param sym   symmetrized edge frame (`__s`, `__t`, `__w`) — the
    *   [[EdgeFrames.symmetrizedWeighted]] contract; (`__s`, `__t`)
    *   unique. Hops are uniform over DISTINCT neighbors (the DeepWalk
    *   form; weight-proportional hops are the `__w`-cumulative variant).
    * @param seeds one column `__n` — walk start nodes (should be graph
    *   nodes; ids must satisfy |id| < 2^62 / walksPerNode). Deduped
    *   inside the operator: duplicate seed rows would otherwise collide
    *   on walk_id and duplicate trajectories.
    * @param walksPerNode walks started per seed; walk_id is
    *   `seed * walksPerNode + rep` (collision-free for distinct seeds)
    * @param steps hops per walk
    * @param salt  draw-stream salt — different salts give independent
    *   walk corpora over the same graph
    * @return (walk_id, step, node) — step 0 is the seed itself; rows
    *   for every surviving hop of every walk
    */
  def uniformWalksOn(sym: DataFrame, seeds: DataFrame,
      walksPerNode: Int = 2, steps: Int = 4,
      salt: String = "rw"): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1,
      s"need walksPerNode >= 1 and steps >= 1, got $walksPerNode, $steps")
    val ranks = rankedNeighbors(sym)
    val deg = degrees(sym)
    val start = Rounds.materialize(walkStarts(seeds, walksPerNode))
    // every hop's frontier is kept: the walk corpus reads them all
    corpus((1 to steps).scanLeft(start)((frontier, i) => Rounds.materialize(
      uniformHop(frontier, deg, ranks, salt, i).drop("__prev"))))
  }

  /** (walk_id, __cur) at step 0: `walksPerNode` walkers per distinct
    * seed, walk_id = seed · walksPerNode + rep. */
  private def walkStarts(seeds: DataFrame, walksPerNode: Int): DataFrame =
    seeds
      .select(col("__n").cast("long").as("__n")).distinct()
      .select(col("__n"),
        explode(sequence(lit(0L), lit((walksPerNode - 1).toLong)))
          .as("__rep"))
      .select((col("__n") * walksPerNode + col("__rep")).as("walk_id"),
        col("__n").as("__cur"))

  /** (__rs, __rt, __r): each node's neighbors ranked by ascending id. */
  private def rankedNeighbors(sym: DataFrame): DataFrame = Memos.persist(sym
    .select(col("__s").as("__rs"), col("__t").as("__rt"))
    .withColumn("__r",
      (row_number().over(Window.partitionBy("__rs").orderBy("__rt"))
        - 1).cast("long")))

  /** (__ds, __deg): distinct-neighbor degree per node. */
  private def degrees(sym: DataFrame): DataFrame = Memos.persist(sym
    .groupBy("__s").agg(count(lit(1)).as("__deg"))
    .select(col("__s").as("__ds"), col("__deg")))

  /** Hop `i`'s draw of walk `walk_id`, in [0, modulus). */
  private def hashDraw(salt: String, i: Int, modulus: Column): Column = pmod(
    conv(substring(md5(concat(lit(salt),
      col("walk_id").cast("string"), lit("-" + i))), 1, 15), 16, 10)
      .cast("long"),
    modulus)

  /** Hop `i` of every walker on (walk_id, __cur), uniform over cur's
    * neighbors: (walk_id, __prev, __cur). */
  private def uniformHop(frontier: DataFrame, deg: DataFrame,
      ranks: DataFrame, salt: String, i: Int): DataFrame =
    frontier
      .join(deg, col("__cur") === col("__ds"))
      .withColumn("__draw", hashDraw(salt, i, col("__deg")))
      .join(ranks, col("__cur") === col("__rs")
        && col("__draw") === col("__r"))
      .select(col("walk_id"), col("__cur").as("__prev"),
        col("__rt").as("__cur"))

  /** (walk_id, step, node) rows of the per-step frontiers. */
  private def corpus(frontiers: Seq[DataFrame]): DataFrame =
    frontiers.zipWithIndex.map { case (frontier, i) =>
      frontier.select(col("walk_id"), lit(i).as("step"),
        col("__cur").as("node"))
    }.reduce(_ unionByName _)

  /** node2vec biased walks (Grover & Leskovec KDD'16): hop 1 is
    * uniform (no previous node yet), every later hop scores cur's
    * neighbors x by the second-order search bias
    *
    *   α(prev, x) = 1/p  if x = prev          (return)
    *                1    if edge(prev, x)      (BFS-ish stay-local)
    *                1/q  otherwise             (DFS-ish explore)
    *
    * and draws proportionally. Weights are pre-scaled INTEGERS
    * (round(1e6·α), computed once on the driver), so the cumulative
    * pick is exact integer arithmetic — the trajectory set replays
    * engine-for-engine like [[uniformWalksOn]].
    *
    * Scale shape per hop: candidates = frontier ⋈ ranked edges on the
    * current node (Σ deg(cur) rows — the frontier's neighborhood, not
    * the graph), one LEFT equi-join against the edge set on
    * (prev, candidate) for the α classes, a per-walker cumulative
    * interval (window partitioned BY WALKER — partitions bounded by
    * degree), one draw-in-interval filter. Everything is keyed by
    * walker or by (node, node); no global sort, no edge-sized state.
    *
    * @param p return parameter (p > 1 discourages immediate backtrack)
    * @param q in-out parameter (q < 1 favors exploration)
    */
  def biasedWalksOn(sym: DataFrame, seeds: DataFrame,
      walksPerNode: Int = 2, steps: Int = 4,
      p: Double = 1.0, q: Double = 1.0,
      salt: String = "n2v"): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1 && p > 0 && q > 0,
      s"bad params: $walksPerNode, $steps, $p, $q")
    val wReturn = math.round(1e6 / p)
    val wLocal = 1000000L
    val wOut = math.round(1e6 / q)
    val edges = Memos.persist(sym
      .select(col("__s").as("__es"), col("__t").as("__et")))
    val deg = degrees(sym)
    // one ranked-neighbor frame serves both the uniform hop (equi-join
    // on the rank) and the biased hops (candidate expansion)
    val rankIdx = rankedNeighbors(sym)
    val start = Rounds.materialize(walkStarts(seeds, walksPerNode))
    // hop 1: uniform over cur's neighbors (the paper's start)
    val hop1 = Rounds.materialize(uniformHop(start, deg, rankIdx, salt, 1))
    val wWalk = Window.partitionBy("walk_id").orderBy("__rt")
    val wTot = Window.partitionBy("walk_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // every hop's frontier is kept: the walk corpus reads them all
    val hops = (2 to steps).scanLeft(hop1) { (frontier, i) =>
      Rounds.materialize(frontier
        .join(rankIdx, col("__cur") === col("__rs"))
        .join(edges, col("__prev") === col("__es")
          && col("__rt") === col("__et"), "left")
        .withColumn("__wt",
          when(col("__rt") === col("__prev"), lit(wReturn))
            .when(col("__et").isNotNull, lit(wLocal))
            .otherwise(lit(wOut)))
        .withColumn("__hi", sum("__wt").over(
          wWalk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__tot", sum("__wt").over(wTot))
        .withColumn("__draw", hashDraw(salt, i, col("__tot")))
        .filter(col("__draw") >= col("__hi") - col("__wt")
          && col("__draw") < col("__hi"))
        .select(col("walk_id"), col("__cur").as("__prev"),
          col("__rt").as("__cur")))
    }
    corpus(start +: hops)
  }
}
