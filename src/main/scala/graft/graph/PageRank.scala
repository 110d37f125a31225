package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Memos, Rounds}

/** Weighted PageRank (Brin & Page 1998) — the link-graph quality
  * signal crawl pipelines attach to documents (Common Crawl publishes
  * exactly this as host-level ranks).
  *
  * Scale shape per iteration: `edges ⋈ ranks` on src (shuffled
  * equi-join; ranks is node-sized, edges edge-sized — neither side is
  * ever collected), one groupBy(dst) with map-side partial sums, and a
  * 1-row dangling-mass frame cross-joined back (never a driver
  * collect). The edge frame with per-src out-weights is computed once
  * and persisted across iterations.
  *
  * Determinism: rank updates are quantized to `quantize` decimals at
  * every iteration handoff — the same trick the Lloyd gate uses — so
  * an independent engine replaying the iterations (chained CTEs)
  * follows the bit-identical trajectory even though per-destination
  * sum order differs.
  *
  * rank_{t+1}(n) = (1−d)/N + d·( Σ_{e:s→n} rank_t(s)·w_e/outw_s
  *                               + dangling_t/N )
  */
object PageRank {

  /** @param edges (srcCol, dstCol, weightCol) — multi-edges allowed
    *   (weights add); self-loops allowed.
    * @return (node, rank) for every node appearing as src or dst.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, damping: Double = 0.85, iters: Int = 10,
      quantize: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val (e, outw, ew) = edgeFractions(edges, srcCol, dstCol, weightCol)
    val nodes = Memos.persist(EdgeFrames.nodes(e))
    // dangling = nodes never appearing as a src; computed once
    val danglingNodes = Memos.persist(
      nodes.join(outw.select(col("__s").as("__n")), Seq("__n"), "left_anti"))
    val n = nodes.count() // bounded: one long
    val base = (1.0 - damping) / n
    val init = nodes.select(col("__n"),
      round(lit(1.0) / n, quantize).as("__r"))
    powerIterate(ew, nodes, danglingNodes, init, iters, quantize,
      lit(base) + lit(damping) *
        (coalesce(col("__m"), lit(0.0)) + col("__dm") / n))
  }

  /** Personalized PageRank with a seed teleport set — TrustRank
    * (Gyöngyi, Garcia-Molina & Pedersen, "Combating Web Spam with
    * TrustRank", VLDB 2004): the production quality-propagation move a
    * corpus pipeline runs on its link graph — hand-vet a small seed set
    * of known-good hosts, teleport ONLY to seeds, and the stationary
    * mass becomes a trust score that decays with link distance from the
    * vetted set (spam farms far from seeds get ~0 even with dense
    * internal linkage, which uniform PageRank rewards).
    *
    * Same per-iteration shape as [[pageRank]] (one edge⋈rank join, one
    * groupBy(dst), a 1-row dangling frame); the only deltas are the
    * teleport vector s(n) = 1/|S| on seeds else 0 (a node-sized
    * persisted column, never a collect) and dangling mass restarting
    * ∝ s(n) (the TrustRank convention — lost mass returns to the vetted
    * set, not the whole graph):
    *
    * rank_{t+1}(n) = (1−d)·s(n) + d·( Σ_{e:m→n} rank_t(m)·w_e/outw_m
    *                                  + dangling_t·s(n) )
    *
    * @param seeds 1-column frame of seed node ids; rows not present in
    *   the graph are ignored (|S| counts the intersection). Must be
    *   non-empty after the intersect.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seeds: DataFrame,
      damping: Double = 0.85, iters: Int = 10,
      quantize: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val (e, outw, ew) = edgeFractions(edges, srcCol, dstCol, weightCol)
    val nodes = EdgeFrames.nodes(e)
    // teleport vector: node-sized, persisted once
    val (isSeed, svCol) = seedVector(nodes, seeds)
    val sv = Memos.persist(nodes.join(isSeed, Seq("__n"), "left")
      .select(col("__n"), svCol))
    val danglingNodes = Memos.persist(sv.join(outw.select(col("__s").as("__n")),
        Seq("__n"), "left_anti")
      .select(col("__n")))
    val init = sv.select(col("__n"), round(col("__sv"), quantize).as("__r"))
    powerIterate(ew, sv, danglingNodes, init, iters, quantize,
      lit(1.0 - damping) * col("__sv") + lit(damping) *
        (coalesce(col("__m"), lit(0.0)) + col("__dm") * col("__sv")))
  }

  /** Approximate personalized PageRank by BATCH RESIDUAL PUSH
    * (Andersen, Chung & Lang, "Local graph partitioning using PageRank
    * vectors", FOCS 2006) — the seed-local alternative to full power
    * iteration. Mass starts as residual on the seeds; a node pushes
    * only once its residual crosses a degree-scaled threshold, so work
    * is proportional to the seed NEIGHBORHOOD actually touched
    * (O(1/(ε·α)) total pushes in the sequential analysis), never the
    * whole graph. The 100 TB move: scoring a handful of vetted seeds'
    * neighborhoods on a trillion-edge graph costs a few
    * frontier-bounded rounds — each an `edges ⋈ frontier` SEMI-joined
    * slice — instead of 10 global edge-sized iterations.
    *
    * Batch-synchronous rounds (the distributed compromise — the
    * paper's one-node-at-a-time schedule is inherently sequential):
    * every node u with r(u) ≥ ε·outw(u) (any r(u) > 0 for dangling u)
    * pushes simultaneously:
    *
    *   p(u) += α·r(u);  r(v) += (1−α)·r(u)·w_uv/outw(u)  ∀ u→v;
    *   dangling u returns (1−α)·r(u) to the seed vector
    *   (the TrustRank restart convention, matching
    *   [[personalizedPageRank]]); r(u) then resets to 0.
    *
    * Invariant: Σp + Σr = 1 up to quantization. Once every residual is
    * below threshold the frontier is empty and further rounds are
    * no-ops, so a fixed `rounds` replays deterministically. p and r
    * are quantized at every handoff — the chained-CTE oracle replays
    * the identical trajectory.
    *
    * @param alpha teleport probability (= 1 − damping; ACL's α).
    * @param eps   push threshold relative to weighted out-degree.
    * @return (node, rank_push, residual) — rank_push ≈ PPR with
    *   per-node error ≤ ε·outw(node) worth of unp pushed residual.
    */
  def pushPersonalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, seeds: DataFrame,
      alpha: Double = 0.15, eps: Double = 1e-6, rounds: Int = 6,
      quantize: Int = 10): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    require(eps > 0, s"eps must be > 0, got $eps")
    val (e, outw, ew) = edgeFractions(edges, srcCol, dstCol, weightCol)
    val nodes = EdgeFrames.nodes(e)
    val (isSeed, svCol) = seedVector(nodes, seeds)
    // node-sized static frame: seed-vector value + weighted out-degree
    // (null = dangling), persisted once across rounds
    val base = Memos.persist(nodes
      .join(isSeed, Seq("__n"), "left")
      .join(outw.select(col("__s").as("__n"), col("__ow")), Seq("__n"), "left")
      .select(col("__n"), svCol, col("__ow")))
    val oneMinusA = 1.0 - alpha
    val init = Rounds.materialize(base.select(col("__n"), lit(0.0).as("__p"),
      round(col("__sv"), quantize).as("__r")))
    val st = Rounds.iterate(init, rounds) { (st, _) =>
      val cur = base.join(st, Seq("__n"))
      val isFrontier = col("__r") > 0 &&
        col("__r") >= lit(eps) * coalesce(col("__ow"), lit(0.0))
      val frontier = cur.filter(isFrontier)
      val contrib = ew.join(frontier.select(col("__n").as("__fs"),
            col("__r").as("__fr")), col("__s") === col("__fs"))
        .groupBy(col("__t"))
        .agg(sum(lit(oneMinusA) * col("__fr") * col("__frac")).as("__m"))
      val dang = frontier.filter(col("__ow").isNull)
        .agg(coalesce(sum(lit(oneMinusA) * col("__r")), lit(0.0))
          .as("__dm"))
      cur
        .join(contrib, col("__n") === col("__t"), "left")
        .crossJoin(broadcast(dang))
        .select(col("__n"),
          round(when(isFrontier, col("__p") + lit(alpha) * col("__r"))
            .otherwise(col("__p")), quantize).as("__p"),
          round(when(isFrontier, lit(0.0)).otherwise(col("__r"))
            + coalesce(col("__m"), lit(0.0)) + col("__dm") * col("__sv"),
            quantize).as("__r"))
    }
    st.select(col("__n").as("node"), round(col("__p"), 6).as("rank_push"),
      round(col("__r"), 6).as("residual"))
  }

  /** Edges (__s, __t, __w), out-weights (__s, __ow) and the persisted
    * per-edge fractions (__s, __t, __frac). */
  private def edgeFractions(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__t"),
      col(weightCol).cast("double").as("__w"))
    val outw = e.groupBy("__s").agg(sum("__w").as("__ow"))
    val ew = Memos.persist(e.join(outw, Seq("__s"))
      .select(col("__s"), col("__t"), (col("__w") / col("__ow")).as("__frac")))
    (e, outw, ew)
  }

  /** Seed membership (__n, __is) to left-join onto `nodes`, and the
    * teleport column `__sv` = 1/|S| on seeds, else 0 (|S| counts only
    * seeds that are nodes: one bounded long). */
  private def seedVector(nodes: DataFrame,
      seeds: DataFrame): (DataFrame, Column) = {
    val seedIds = seeds.select(seeds.columns.head).toDF("__n").distinct()
    val ns = nodes.join(seedIds, Seq("__n"), "left_semi").count()
    require(ns > 0, "no seed id is present in the graph")
    (seedIds.select(col("__n"), lit(1).as("__is")),
      when(col("__is").isNotNull, lit(1.0) / ns).otherwise(lit(0.0))
        .as("__sv"))
  }

  /** The power iteration: per round the in-mass `__m` (one edge⋈rank
    * join + groupBy(dst)) and the 1-row dangling mass `__dm` meet
    * `nodes`, and `rank` — the caller's update over those columns — is
    * quantized into the next `__r`. Returns (node, rank). */
  private def powerIterate(ew: DataFrame, nodes: DataFrame,
      danglingNodes: DataFrame, init: DataFrame, iters: Int,
      quantize: Int, rank: Column): DataFrame = {
    // each iteration references the previous one twice (contribution +
    // dangling mass): without the per-round checkpoint the logical plan
    // grows 2^iters
    val ranks = Rounds.iterate(init, iters) { (ranks, _) =>
      val contrib = ew.join(ranks, col("__s") === col("__n"))
        .groupBy(col("__t"))
        .agg(sum(col("__frac") * col("__r")).as("__m"))
      val dangling = ranks.join(danglingNodes, Seq("__n"), "left_semi")
        .agg(coalesce(sum("__r"), lit(0.0)).as("__dm"))
      nodes
        .join(contrib, col("__n") === col("__t"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("__n"), round(rank, quantize).as("__r"))
    }
    ranks.select(col("__n").as("node"), col("__r").as("rank"))
  }
}
