package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Sampled-pivot betweenness centrality (Brandes, "A faster algorithm
  * for betweenness centrality", J. Math. Soc. 2001; pivot sampling per
  * Brandes & Pich, "Centrality estimation in large networks", 2007 —
  * the web-scale form: exact all-sources betweenness is O(|V|·|E|),
  * the pivot sum is an unbiased estimator scaled by |V|/|pivots|).
  *
  * Per pivot, the two Brandes phases as level-synchronous frames:
  *
  *  1. forward BFS — level L's frame is (node, σ) where σ counts
  *     shortest paths from the pivot (INTEGER, exact cross-engine);
  *     new level = frontier ⋈ edges, anti-joined against settled
  *     nodes, σ summed over parents;
  *  2. backward dependency accumulation —
  *     δ(v) = Σ_{w : d(w)=d(v)+1, (v,w)∈E} (σ(v)/σ(w)) · (1 + δ(w)),
  *     one edge-keyed join of consecutive level frames per step,
  *     δ ROUNDED to `quantize` decimals at each level handoff (the
  *     PageRank quantized-trajectory convention) so the oracle replays
  *     the exact doubles.
  *
  * PIVOT BATCHING (r14 optimization round): pivots are mathematically
  * independent, but running them as independent job chains multiplies
  * the per-level job count by |pivots| — pure scheduling overhead
  * locally, |pivots| separate synchronization barriers per level at
  * cluster scale. Every frame now carries a pivot key (__p, node, …)
  * and ALL pivots advance through each level in ONE edge-keyed join +
  * rollup; per pivot the arithmetic (σ sums, round-`quantize` δ
  * handoffs) is identical term-for-term to the per-pivot chains, so
  * the output is unchanged (the chained-CTE oracles still replay
  * per-pivot). Job count per query drops from |pivots|·(2·depth+1)
  * checkpoints to (2·depth+1); the `settled` anti-join side also no
  * longer needs its own checkpoint per level (it is a union of already
  * checkpointed level frames, so its lineage stays shallow).
  *
  * Scale posture: every step is an edge-keyed equi-join against a
  * level frame (≤ |pivots|·node-sized) plus a map-side-combined
  * rollup; no pair frames, no windows, driver state = the pivot list.
  * Cost is O(depth · |pivots| · |E|-join-rows) total — the Brandes
  * bound — in 1/|pivots| the number of barriers.
  */
object Betweenness {

  /** All-pivot dependency frames, batched (see class doc). Returns
    * (__p, __n, __delta) for every non-pivot node reached within
    * `maxDepth` of its pivot (delta 0 rows included — an unreached
    * node is absent, a reached-but-never-intermediate node scores 0).
    */
  private def pivotDependenciesAll(sym: DataFrame, pivots: Seq[Long],
      maxDepth: Int, quantize: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    // forward: levels(l) = (__p, __n, __sigma), per pivot disjoint by
    // construction across levels
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var frontier = Rounds.materialize(
      pivots.map(p => (p, p, 1L)).toDF("__p", "__n", "__sigma"))
    levels += frontier
    // settled = union of checkpointed level frames: shallow lineage, no
    // checkpoint of its own
    var settled = frontier.select(col("__p"), col("__n"))
    for (_ <- 1 to maxDepth) {
      frontier = Rounds.materialize(frontier
        .join(sym, col("__n") === col("__s"))
        .select(col("__p"), col("__t"), col("__sigma"))
        .join(settled.select(col("__p").as("__dp"), col("__n").as("__done")),
          col("__p") === col("__dp") && col("__t") === col("__done"),
          "left_anti")
        .groupBy(col("__p"), col("__t"))
        .agg(sum("__sigma").as("__sigma"))
        .select(col("__p"), col("__t").as("__n"), col("__sigma")))
      levels += frontier
      settled = settled.unionByName(frontier.select(col("__p"), col("__n")))
    }
    // backward: deepest level seeds delta 0, each shallower level
    // accumulates from its children through one edge join
    val deltas = new Array[DataFrame](maxDepth + 1)
    deltas(maxDepth) = Rounds.materialize(levels(maxDepth)
      .select(col("__p"), col("__n"), lit(0.0).as("__delta")))
    for (l <- maxDepth - 1 to 0 by -1) {
      val child = levels(l + 1)
        .select(col("__p").as("__pc"), col("__n").as("__cw"),
          col("__sigma").as("__sw"))
        .join(deltas(l + 1).select(col("__p").as("__pd"),
            col("__n").as("__dw"), col("__delta")),
          col("__pc") === col("__pd") && col("__cw") === col("__dw"))
        .select(col("__pc"), col("__cw"), col("__sw"), col("__delta"))
      val cur = levels(l).select(col("__p"), col("__n").as("__v"),
        col("__sigma").as("__sv"))
      val agg = cur.join(sym, col("__v") === col("__s"))
        .join(child, col("__p") === col("__pc") && col("__t") === col("__cw"))
        .select(col("__p"), col("__v"),
          (col("__sv").cast("double") / col("__sw").cast("double")
            * (lit(1.0) + col("__delta"))).as("__x"))
        .groupBy("__p", "__v").agg(round(sum("__x"), quantize).as("__nd"))
      deltas(l) = Rounds.materialize(cur.join(agg, Seq("__p", "__v"), "left")
        .select(col("__p"), col("__v").as("__n"),
          coalesce(col("__nd"), lit(0.0)).as("__delta")))
    }
    (1 to maxDepth).map(deltas(_)).reduce(_ unionByName _)
  }

  /** Betweenness estimate: Σ over pivots of δ_pivot(v), v ∉ pivots'
    * own level-0 rows (Brandes' running sum; scale by |V|/|pivots| for
    * the unbiased absolute estimate — reported raw so the pivot set is
    * explicit in the number).
    *
    * @param maxDepth must cover the graph's eccentricity from every
    *   pivot; deeper levels are empty frames and cost nothing
    * @return (node, betweenness) over nodes reached by ≥1 pivot
    */
  def betweennessPivots(sym: DataFrame, pivots: Seq[Long],
      maxDepth: Int = 4, quantize: Int = 6): DataFrame = {
    require(pivots.nonEmpty && maxDepth >= 1,
      s"need pivots and maxDepth >= 1, got $pivots / $maxDepth")
    pivotDependenciesAll(sym, pivots, maxDepth, quantize)
      .groupBy(col("__n").as("node"))
      .agg(round(sum("__delta"), quantize).as("betweenness"))
  }

  /** WEIGHTED per-pivot dependencies on the exact Δ-stepping distance
    * field (the r13 gap: hop-BFS Brandes ranks a latency/cost graph
    * wrong whenever a cheap 2-hop route beats an expensive direct
    * edge).
    *
    * Brandes' backward recursion
    * δ(v) = Σ_{(v,w)∈DAG} σ(v)/σ(w)·(1+δ(w)) unrolls to the LINEAR
    * form δ(v) = σ(v)·Σ_k b_k(v) with b_0(t) = 1/σ(t) and
    * b_k(v) = Σ_{(v,w)∈DAG} b_{k-1}(w) — b_k(v) is the sum of 1/σ(t)
    * over k-hop DAG paths v→t. That form needs NO level frames: on a
    * weighted DAG "levels" are distance values (unbounded many), but
    * hop-indexed waves still terminate in DAG-depth rounds because
    * every DAG edge strictly increases distance. Forward σ uses the
    * same trick: c_k(v) = #k-hop DAG paths pivot→v, σ = Σ_k c_k —
    * INTEGER, exact cross-engine.
    *
    * Frame shapes, all pivots batched (the [[pivotDependenciesAll]]
    * convention): ONE multi-seed Δ-stepping SSSP
    * ([[DeltaStepping.shortestPathsMulti]]), one edge-frame join to
    * build the pivot-keyed DAG (`d(s) + ℓ = d(t)` — exactness of the
    * distances makes membership a pure equality test), then 2·maxHops
    * edge-keyed joins + rollups shared by every pivot. b_k handoffs
    * round to `quantize` (the house quantized-trajectory convention)
    * so the oracle replays bit-for-bit; σ is exact integers throughout.
    *
    * @param edges directed (srcCol, dstCol, lenCol), integer lengths
    *   ≥ 1 ([[DeltaStepping]]'s caller contract)
    * @param maxHops cap on DAG hop depth (waves beyond the true depth
    *   are empty frames); must cover the deepest shortest path, like
    *   betweennessPivots' maxDepth
    * @return (node, betweenness): Σ over pivots of δ_pivot, reached
    *   non-pivot nodes only (never-intermediate nodes score 0.0)
    */
  def weightedBetweennessPivots(edges: DataFrame, srcCol: String,
      dstCol: String, lenCol: String, pivots: Seq[Long], maxHops: Int = 6,
      delta: Long = 16L, quantize: Int = 6): DataFrame = {
    require(pivots.nonEmpty && maxHops >= 1,
      s"need pivots and maxHops >= 1, got $pivots / $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__t"),
      col(lenCol).cast("long").as("__l"))
    val dist = DeltaStepping.shortestPathsMulti(e, "__s", "__t", "__l",
      pivots.toDF("__seed"), delta = delta)
    weightedBetweennessOnDists(e, dist, maxHops, quantize)
  }

  /** [[weightedBetweennessPivots]] over a PRECOMPUTED multi-seed
    * distance frame (`(seed, id, dist)` as returned by
    * [[DeltaStepping.shortestPathsMulti]]; extra seeds beyond the
    * intended pivot set must be filtered out by the caller). Lets the
    * SSSP — the dominant cost — be shared with other consumers of the
    * same distance field (the q_weighted_sssp / harmonic family).
    *
    * @param e directed (__s, __t, __l) integer-length edge frame, the
    *   SAME frame the distances were computed on
    */
  def weightedBetweennessOnDists(e: DataFrame, dist: DataFrame,
      maxHops: Int = 6, quantize: Int = 6): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val reached = dist.where(col("dist").isNotNull)
    // shortest-path DAG per pivot: exact integer distances make
    // membership a pure equality — one edge join against two
    // (pivot, node)-keyed sides. Columns pre-renamed (__dgp, __dgs,
    // __dgt) so the wave joins below are unambiguous.
    val dag = Rounds.materialize(e
      .join(reached.select(col("seed").as("__ps"), col("id").as("__ds_n"),
          col("dist").as("__ds")),
        col("__s") === col("__ds_n"))
      .join(reached.select(col("seed").as("__pt"), col("id").as("__dt_n"),
          col("dist").as("__dt")),
        col("__ps") === col("__pt") && col("__t") === col("__dt_n"))
      .where(col("__ds") + col("__l") === col("__dt"))
      .select(col("__ps").as("__dgp"), col("__s").as("__dgs"),
        col("__t").as("__dgt")))
    // forward: c_k = #k-hop DAG paths from each pivot; σ = Σ_k c_k
    val c0 = dist.select(col("seed")).distinct()
      .select(col("seed").as("__p"), col("seed").as("__n"),
        lit(1L).as("__c"))
    val waves = Seq.iterate(Rounds.materialize(c0), maxHops + 1)(c =>
      Rounds.materialize(c.join(dag,
          col("__p") === col("__dgp") && col("__n") === col("__dgs"))
        .groupBy(col("__dgp"), col("__dgt")).agg(sum("__c").as("__c"))
        .select(col("__dgp").as("__p"), col("__dgt").as("__n"), col("__c"))))
    val sigma = Rounds.materialize(waves.reduce(_ unionByName _)
      .groupBy("__p", "__n").agg(sum("__c").as("__sigma")))
    // backward: b_0 = 1/σ on every reached node, b_k rolls one DAG
    // hop toward the pivot with a round-`quantize` handoff
    val b0 = sigma.select(col("__p"), col("__n"),
      (lit(1.0) / col("__sigma")).as("__b"))
    val bWaves = Seq.iterate(Rounds.materialize(b0), maxHops + 1)(b =>
      Rounds.materialize(b.join(dag,
          col("__p") === col("__dgp") && col("__n") === col("__dgt"))
        .groupBy(col("__dgp"), col("__dgs"))
        .agg(round(sum("__b"), quantize).as("__b"))
        .select(col("__dgp").as("__p"), col("__dgs").as("__n"), col("__b"))))
      .tail
    val phi = bWaves.reduce(_ unionByName _)
      .groupBy("__p", "__n").agg(sum("__b").as("__phi"))
    sigma.where(col("__n") =!= col("__p"))
      .join(phi, Seq("__p", "__n"), "left")
      .select(col("__p"), col("__n"),
        round(col("__sigma").cast("double")
          * coalesce(col("__phi"), lit(0.0)), quantize).as("__delta"))
      .groupBy(col("__n").as("node"))
      .agg(round(sum("__delta"), quantize).as("betweenness"))
  }

  /** Pivot-sampled WEIGHTED harmonic centrality (Boldi & Vigna,
    * "Axioms for centrality", Internet Math. 2014 — the closeness
    * variant that handles disconnection natively):
    * Ĥ(v) = Σ_{p∈pivots} 1/d(p, v), d the exact Δ-stepping weighted
    * distance; scale by |V|/|pivots| for the absolute estimate
    * (reported raw, the [[betweennessPivots]] convention). Unreached
    * (p, v) pairs contribute nothing — exactly the property that makes
    * harmonic the principled closeness on disconnected/directed
    * graphs. ONE multi-seed SSSP + one rollup; the per-node sum runs
    * through [[graft.core.ExactAgg.sumMicro]] so the reciprocal sum is
    * accumulation-order-independent on both engines.
    */
  def weightedHarmonicPivots(edges: DataFrame, srcCol: String,
      dstCol: String, lenCol: String, pivots: Seq[Long],
      delta: Long = 16L, quantize: Int = 6): DataFrame = {
    require(pivots.nonEmpty, "need pivots")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__t"),
      col(lenCol).cast("long").as("__l"))
    weightedHarmonicOnDists(
      DeltaStepping.shortestPathsMulti(e, "__s", "__t", "__l",
        pivots.toDF("__seed"), delta = delta), quantize)
  }

  /** [[weightedHarmonicPivots]]' readout over a precomputed multi-seed
    * distance frame (extra seeds must be filtered out by the caller).
    */
  def weightedHarmonicOnDists(dist: DataFrame,
      quantize: Int = 6): DataFrame =
    dist.where(col("dist").isNotNull && col("id") =!= col("seed"))
      .select(col("id"), (lit(1.0) / col("dist")).as("__h"))
      .groupBy(col("id").as("node"))
      .agg(round(graft.core.ExactAgg.sumMicro(col("__h")), quantize)
        .as("harmonic"))
}
