package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Memos, Rounds}

/** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
  * hyperlinked environment", JACM 1999) — the directional counterpart
  * of PageRank a link pipeline runs on citation/reference subgraphs:
  * a good HUB points at good authorities, a good AUTHORITY is pointed
  * at by good hubs. Mutual recursion, power-iterated:
  *
  *   a_{t+1}(n) = Σ_{e:m→n} w_e · h_t(m)     (then L1-normalize)
  *   h_{t+1}(n) = Σ_{e:n→m} w_e · a_{t+1}(m) (then L1-normalize)
  *
  * Scale shape per iteration: two shuffled equi-joins edge⋈score (one
  * per direction; scores node-sized, edges edge-sized), each followed
  * by a groupBy with map-side partial sums, and a broadcast 1-row L1
  * total — the PageRank round shape doubled, nothing collected.
  * L1 normalization (not the textbook L2) keeps every quantity a plain
  * sum/divide — exactly replayable; the rankings are identical under
  * any positive rescaling.
  *
  * Determinism: both score frames are quantized at every handoff
  * (round to `quantize`), so chained-CTE replays follow the identical
  * trajectory.
  */
object Hits {

  /** @param edges directed weighted edges; multi-edges add.
    * @return (node, hub, authority) for every node on either edge end,
    *   both scores L1-normalized and quantized.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 10, quantize: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Memos.persist(edges.select(col(srcCol).as("__s"),
        col(dstCol).as("__t"), col(weightCol).cast("double").as("__w"))
      .groupBy("__s", "__t").agg(sum("__w").as("__w")))
    val nodes = Memos.persist(EdgeFrames.nodes(e))
    val n = nodes.count() // bounded: one long
    // r14 optimization round, two output-identical restructures:
    //  1. score frames in the LOOP are sparse — a node absent from a
    //     raw sum frame scores exactly 0.0 after normalize+quantize,
    //     and a 0.0 score contributes 0.0·w terms to the next round's
    //     sums (x + 0.0 == x in IEEE for the non-negative sums here),
    //     so the per-iteration nodes left-join that materialized the
    //     zero rows was two node-sized joins per iteration of pure
    //     plan weight; zeros are re-attached ONCE at the readout;
    //  2. one checkpoint per ITERATION (on hub, whose plan contains
    //     auth's) instead of one per half-step — same total compute,
    //     half the materialization barriers. The readout's authority
    //     derives lazily from hub n−1, so n−1 rounds run through
    //     Rounds.iterate and the last against its returned state.
    def authOf(hub: DataFrame): DataFrame = l1(
      e.join(hub, col("__s") === col("__n"))
        .groupBy(col("__t")).agg(sum(col("__w") * col("__h")).as("__r")),
      "__t", quantize)
    def hubOf(auth: DataFrame): DataFrame = l1(
      e.join(auth.select(col("__n"), col("__a")), col("__t") === col("__n"))
        .groupBy(col("__s")).agg(sum(col("__w") * col("__a")).as("__r")),
      "__s", quantize).select(col("__n"), col("__a").as("__h"))
    val init = nodes.select(col("__n"),
      round(lit(1.0) / n, quantize).as("__h"))
    val prevHub =
      Rounds.iterate(init, iters - 1)((hub, _) => hubOf(authOf(hub)))
    val auth = authOf(prevHub)
    val hub = Rounds.materialize(hubOf(auth))
    nodes.join(hub, Seq("__n"), "left").join(auth, Seq("__n"), "left")
      .select(col("__n").as("node"),
        coalesce(col("__h"), lit(0.0)).as("hub"),
        coalesce(col("__a"), lit(0.0)).as("authority"))
  }

  /** L1-normalize raw sums against the broadcast 1-row total, quantize.
    * SPARSE: nodes with no raw row (score exactly 0) stay absent — see
    * the loop comment in [[hits]]. Returns (__n, __a).
    */
  private def l1(raw: DataFrame, key: String, quantize: Int): DataFrame = {
    val tot = raw.agg(coalesce(sum("__r"), lit(0.0)).as("__tot"))
    raw.crossJoin(broadcast(tot))
      .select(col(key).as("__n"),
        round(coalesce(try_divide(col("__r"), col("__tot")), lit(0.0)),
          quantize).as("__a"))
  }
}
