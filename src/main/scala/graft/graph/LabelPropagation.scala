package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007, "Near linear time algorithm to detect
  * community structures in large-scale networks") — the cheap
  * community signal a crawl/link pipeline attaches to its co-occurrence
  * graphs (topic clusters on co-purchase, host communities on the link
  * graph, near-dup "families" above the pairwise threshold).
  *
  * Semantics (the deterministic synchronous variant): every node starts
  * in its own community (label = node id); at each round every node
  * adopts the label with the largest total incident edge weight among
  * its neighbors' CURRENT labels, ties broken toward the smallest
  * label. A fixed number of rounds is run (asynchronous update order —
  * the paper's randomized schedule — would be engine-dependent;
  * synchronous rounds with an integer-weight argmax make the trajectory
  * replayable bit-for-bit by any engine).
  *
  * Scale shape per round: one shuffled equi-join `edges ⋈ labels` on
  * the neighbor id (labels node-sized, edges edge-sized) and one
  * groupBy(node, label) with map-side partial sums; the argmax is an
  * AGGREGATE (min over a (−weight, label) struct), not a window, so no
  * per-node sort materializes. Every round reads the caller's shared
  * symmetrized weighted edge frame; each round is a
  * [[Rounds.iterate]] round. Nothing is ever collected to the driver.
  */
object LabelPropagation {

  /** @param sym shared (ideally persisted)
    *   [[EdgeFrames.symmetrizedWeighted]] frame; its `__w` — the input
    *   pairs' multiplicity (co-occurrence count) — is the edge weight.
    * @param iters synchronized rounds (fixed, for replayability).
    * @return (id, community) — community = the label held after the
    *   last round; label ids are node ids, NOT canonicalized to the
    *   component minimum (communities are finer than components).
    */
  def labelPropagationOn(sym: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = sym

    val init = edges.select(col("__s").as("__n")).distinct()
      .select(col("__n"), col("__n").as("__l"))
    val labels = Rounds.iterate(init, iters) { (labels, _) =>
      edges
        .join(labels, col("__t") === col("__n"))
        .groupBy(col("__s"), col("__l"))
        .agg(sum("__w").as("__sw"))
        // argmax(weight) with min-label tie-break as ONE aggregate:
        // struct ordering is lexicographic, so min((−w, l)) picks the
        // largest weight, then the smallest label — integer arithmetic
        // throughout, no window, no sort
        .groupBy("__s")
        .agg(min(struct((-col("__sw")).as("nw"), col("__l").as("l")))
          .as("__m"))
        .select(col("__s").as("__n"), col("__m.l").as("__l"))
    }
    labels.select(col("__n").as("id"), col("__l").as("community"))
  }

  /** Newman weighted modularity of a community assignment, reported
    * per community (Newman & Girvan 2004):
    *
    *   Q = Σ_c [ in_c/2m − (tot_c/2m)² ]
    *
    * where in_c counts BOTH directions of each internal edge (the
    * symmetrized frame's convention), tot_c is the community's summed
    * weighted degree, and 2m the total symmetrized weight. The
    * community-quality report a pipeline logs next to its LPA pass.
    *
    * Scale shape: two aggregates over the edge-sized symmetrized frame
    * (per-node degree, internal weight per community — the latter via
    * two node-keyed label joins), one community-sized rollup, and a
    * broadcast 1-row total; all weights integer until the final
    * quantized division.
    *
    * @param sym shared [[EdgeFrames.symmetrizedWeighted]] frame
    * @param labels (id, community) as produced by
    *   [[labelPropagationOn]]
    * @return (community, n_nodes, internal_w, degree_w, contribution)
    *   with contribution rounded to 6; Q = sum(contribution) up to
    *   rounding.
    */
  def modularityOn(sym: DataFrame, labels: DataFrame): DataFrame = {
    val e = sym
    val la = labels.select(col("id").as("__s"), col("community").as("__cs"))
    val lb = labels.select(col("id").as("__t"), col("community").as("__ct"))
    val tot = e.groupBy("__s").agg(sum("__w").as("__d"))
      .join(la, "__s")
      .groupBy(col("__cs").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("__d").as("degree_w"))
    val inw = e.join(la, "__s").join(lb, "__t")
      .filter(col("__cs") === col("__ct"))
      .groupBy(col("__cs").as("community"))
      .agg(sum("__w").as("__iw"))
    val m2 = e.agg(sum("__w").as("__m2"))
    tot.join(inw, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_nodes"),
        coalesce(col("__iw"), lit(0L)).as("internal_w"),
        col("degree_w"),
        round(coalesce(col("__iw"), lit(0L)) / col("__m2") -
          (col("degree_w") / col("__m2")) * (col("degree_w") / col("__m2")),
          6).as("contribution"))
  }

  /** One Louvain phase-1 refinement sweep (Blondel, Guillaume,
    * Lambiotte & Lefebvre 2008, "Fast unfolding of communities in
    * large networks") over an existing assignment — the
    * modularity-greedy polish a pipeline runs on top of its cheap LPA
    * labels: every node considers moving to one of its NEIGHBORS'
    * communities and takes the one with the best modularity gain.
    *
    * For node i with weighted degree k_i, current community A, and
    * candidate community C, the gain comparison reduces (dropping the
    * shared 1/2m² factor) to the score
    *
    *   score(C) = 2m·k_{i,C} − k_i·(tot_C − k_i·[C = A])
    *
    * where k_{i,C} is i's weight into C and tot_C the community's
    * summed degree — every term an integer off the symmetrized frame;
    * the two count products are evaluated in DOUBLE (BIGINT×BIGINT
    * wraps past 2^63 at 100 TB edge counts; exact below 2^53). The
    * argmax over {A} ∪ neighbor communities, ties to the smallest
    * community id, is ONE aggregate (min over a (−score, c) struct) —
    * no window, no per-node sort. All moves apply SYNCHRONOUSLY (the
    * deterministic distributed compromise — the paper's sequential
    * sweep is engine-order-dependent); repeated damped sweeps are the
    * production schedule, one sweep is the gated unit.
    *
    * Scale shape: one edge-sized join (edges ⋈ labels on the neighbor
    * end), one (node, community) rollup, three node-sized joins, a
    * broadcast 1-row total. Nothing iterates, nothing collects.
    *
    * @param sym [[EdgeFrames.symmetrizedWeighted]] frame
    * @param labels (id, community) as produced by
    *   [[labelPropagationOn]]
    * @return (id, community) — the assignment after one sweep
    */
  def louvainRefine(sym: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("id").as("__s"), col("community").as("__cs"))
    val lb = labels.select(col("id").as("__t"), col("community").as("__ct"))
    val deg = sym.groupBy("__s").agg(sum("__w").as("__k"))
    val tot = deg.join(la, Seq("__s"))
      .groupBy(col("__cs").as("__c")).agg(sum("__k").as("__tot"))
    val m2 = sym.agg(sum("__w").as("__m2"))
    // i's weight into each NEIGHBOR community; the own community is
    // always a candidate (weight-0 row unioned in, so an isolated-in-A
    // node can still stay)
    val kic = sym.join(lb, Seq("__t"))
      .groupBy(col("__s"), col("__ct").as("__c"))
      .agg(sum("__w").as("__kic"))
    // stay row unioned WITHOUT re-aggregating — argmax-neutral
    // duplicate, see Louvain.sweep (r14 optimization)
    val cand = kic.select(col("__s"), col("__c"), col("__kic"))
      .unionByName(la.select(col("__s"), col("__cs").as("__c"),
        lit(0L).as("__kic")))
    val scored = cand
      .join(la, Seq("__s"))
      .join(deg, Seq("__s"))
      .join(tot, Seq("__c"))
      .crossJoin(broadcast(m2))
      .select(col("__s"), col("__c"),
        (col("__m2").cast("double") * col("__kic")
          - col("__k").cast("double") * (col("__tot")
            - when(col("__c") === col("__cs"), col("__k"))
              .otherwise(lit(0L)))).as("__score"))
    scored.groupBy("__s")
      .agg(min(struct((-col("__score")).as("ns"), col("__c").as("c")))
        .as("__m"))
      .select(col("__s").as("id"), col("__m.c").as("community"))
  }
}
