package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** k-core decomposition via iterated neighborhood h-index (Lü, Zhou,
  * Zhang & Stanley, "The H-index of a network node and its relation to
  * degree and coreness", Nature Communications 2016): start every node
  * at its degree and repeatedly replace each node's value with the
  * h-index of its neighbors' values; the sequence is monotonically
  * non-increasing and converges to the node's CORENESS — the largest k
  * such that the node survives in the k-core. Coreness is the standard
  * corpus-graph density signal (spam farms and boilerplate rings sit in
  * high cores of the link/co-occurrence graph; peripheral one-off pages
  * in low ones).
  *
  * Why h-index iteration and not the textbook peel: sequential peeling
  * ("remove all degree<k nodes, repeat") is an inherently ordered
  * frontier algorithm; the h-index operator is a bulk-synchronous
  * per-node aggregate — every round is ONE edge-sized equi-join
  * `edges ⋈ values` plus a per-node aggregate, exactly the LPA/PageRank
  * round shape, so it runs at link-graph scale unchanged.
  *
  * Scale shape per round: shuffled equi-join on the neighbor id
  * (values node-sized, edges edge-sized), then the h-index per node —
  * h = max(min(rank, v)) over neighbor values sorted descending — via a
  * PARTITIONED window (per-node rank; streams through the sort, never a
  * global order, never a materialized neighbor array — hub neighborhoods
  * spill to the sorter, not to a collect_list). Integer arithmetic
  * throughout — rounds replay bit-for-bit on any engine. The caller's
  * shared symmetrized edge frame is read every round; every round is
  * a [[Rounds.iterate]] round, which also keeps the round-internal
  * window out of the returned plan.
  *
  * Determinism under early stop: the h-operator is idempotent at its
  * fixpoint, so stopping when a round changes nothing yields the same
  * frame as running all `rounds` — an engine replaying the fixed round
  * count matches either way.
  */
object KCore {

  /** @param sym shared [[EdgeFrames.symmetrizedWeighted]] frame
    *   (weights ignored — coreness is a simple-graph notion and the
    *   frame's (__s, __t) set is exactly the distinct neighbor
    *   relation).
    * @param rounds h-index iterations (each non-increasing; converged =
    *   coreness — real-world graphs converge in a handful of rounds,
    *   the pathological bound is the graph diameter).
    * @return (id, coreness) — the value after the last round run.
    */
  def corenessOn(sym: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val und = sym.select(col("__s"), col("__t"))

    val init = Rounds.materialize(und.groupBy("__s")
      .agg(count(lit(1)).as("__h"))
      .select(col("__s").as("__n"), col("__h")))
    // convergence by TOTAL h: the operator is non-increasing per node,
    // so an unchanged integer total ⟺ no node changed — one scalar
    // aggregate over the checkpointed node frame per round, replacing
    // the old node-sized anti-join (which doubled the round's action
    // cost). Sum ≤ 2m, no overflow below ~4.6e18 edge endpoints.
    val converged = Rounds.unchanged(init)(_.agg(sum("__h")).head().getLong(0))
    val h = Rounds.iterate(init, rounds, converged) { (h, _) =>
      // (r14 optimization note: a grouped-distinct-value h-index form
      // — h = max_v min(v, #{≥v}) — was tried to shrink the window's
      // sort input, but the extra (node, value) exchange it needs cost
      // more than the smaller sort saved on this graph's degree/value
      // profile: 9.3 s → 12.2 s measured at sf0.1. Reverted; the
      // identity is the right move only when hub degrees dwarf the
      // distinct-value count.)
      val w = Window.partitionBy("__s")
        .orderBy(col("__hv").desc, col("__t").asc)
      und.join(h, col("__t") === col("__n"))
        .select(col("__s"), col("__t"), col("__h").as("__hv"))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .groupBy("__s")
        .agg(max(least(col("__rn"), col("__hv"))).as("__h"))
        .select(col("__s").as("__n"), col("__h"))
    }
    h.select(col("__n").as("id"), col("__h").as("coreness"))
  }
}
