package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Memos, Rounds}

/** Strongly-connected-component primitives for directed link graphs
  * (web crawls, citation/trade flows).
  *
  * [[pivotScc]] is the forward–backward step (Fleischer, Hendrickson &
  * Pinar, "On identifying strongly connected components in parallel",
  * 2000): the SCC containing a pivot is exactly
  * fwd-reach(pivot) ∩ bwd-reach(pivot). Both sweeps ride the
  * [[SeedDistance]] BFS machinery — per round ONE edge-keyed equi-join
  * plus a node-sized merge, integer hop state, so the whole readout
  * replays in chained CTEs. The full FB decomposition recurses on the
  * three remainder sets with fresh pivots; each recursion level is
  * this same primitive, driver state one pivot id per level.
  *
  * [[dominanceEdges]] derives the net-dominance direction graph from a
  * weighted directed frame: keep (s, t) iff w(s,t) > w(t,s) (missing
  * reverse = 0, ties and self-loops drop both ways) — the
  * deterministic sparsifier that turns a near-complete flow graph
  * (trade, traffic) into the asymmetric cycle structure SCC analysis
  * is about.
  */
object Scc {

  /** @param weighted (srcCol, dstCol, wCol) directed weighted edges,
    *   at most one row per (src, dst)
    */
  def dominanceEdges(weighted: DataFrame, srcCol: String, dstCol: String,
      wCol: String): DataFrame = {
    val fwd = weighted.select(col(srcCol).as("__as"),
      col(dstCol).as("__at"), col(wCol).as("__aw"))
    // reverse lookup keyed by the forward pair (the self-join rename
    // convention)
    val rev = weighted.select(col(dstCol).as("__rs"),
      col(srcCol).as("__rt"), col(wCol).as("__rw"))
    fwd.join(rev, col("__as") === col("__rs")
        && col("__at") === col("__rt"), "left")
      .filter(col("__aw") > coalesce(col("__rw"), lit(0L)))
      .select(col("__as").as("src"), col("__at").as("dst"))
  }

  /** SCC membership of `pivot`'s component: per node the forward and
    * backward hop distances from the pivot (null = unreached within
    * `rounds`) and the in-SCC flag. `rounds` must cover the directed
    * diameter of the component.
    *
    * @return (id, hops_fwd, hops_bwd, in_scc) for every node on either
    *   edge end
    */
  def pivotScc(edges: DataFrame, srcCol: String, dstCol: String,
      pivot: Long, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // r14 optimization: the forward and backward sweeps are independent
    // BFS relaxations over the same node set — running them as two
    // [[SeedDistance]] chains doubled the per-round job count. One
    // direction-KEYED frame (__dir 0 = forward, 1 = reversed edges)
    // relaxes both in each round's single join+rollup: the hopDistance
    // round ([[SeedDistance.relax]]) keyed by __dir.
    val e = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__t"))
    val both = Memos.persist(
      e.select(lit(0).as("__dir"), col("__s"), col("__t"))
        .unionByName(e.select(lit(1).as("__dir"), col("__t").as("__s"),
          col("__s").as("__t"))))
    val init = Rounds.materialize(EdgeFrames.nodes(e)
      .select(col("__n"), explode(array(lit(0), lit(1))).as("__dir"))
      .select(col("__dir"), col("__n"),
        when(col("__n") === pivot, lit(0L))
          .otherwise(lit(null).cast("long")).as("__d")))
    val dist = Rounds.iterate(init, rounds) { (dist, _) =>
      SeedDistance.relax(both, dist, Seq("__dir"))
    }
    val f = dist.where(col("__dir") === 0)
      .select(col("__n").as("id"), col("__d").as("hops_fwd"))
    val b = dist.where(col("__dir") === 1)
      .select(col("__n").as("__idb"), col("__d").as("hops_bwd"))
    f.join(b, col("id") === col("__idb"))
      .select(col("id"), col("hops_fwd"), col("hops_bwd"),
        (col("hops_fwd").isNotNull && col("hops_bwd").isNotNull)
          .as("in_scc"))
  }
}
