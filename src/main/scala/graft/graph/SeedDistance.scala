package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Bulk-synchronous BFS hop distance from a seed set — the crawl-depth
  * signal link pipelines attach to every page (Common Crawl publishes
  * exactly this as host-level "distance from seed list"; quality decays
  * with depth, spam density grows with it).
  *
  * Frontier relaxation in the LPA/PageRank round shape: dist starts at
  * 0 on seeds; each round every node takes
  * min(dist, min over in-neighbors (dist_neighbor + 1)) — ONE
  * edge-sized equi-join `edges ⋈ dist` plus a per-node min aggregate,
  * then a node-sized merge. Integer arithmetic throughout, rounds
  * replay bit-for-bit in chained CTEs. The relaxation is monotone
  * non-increasing and idempotent at the fixpoint, so a fixed `rounds`
  * (= the hop horizon a pipeline actually labels, e.g. 6) replays
  * deterministically; nodes beyond the horizon report null.
  *
  * 100 TB shape: rounds = hop horizon, each round one shuffled
  * equi-join on the neighbor id (dist node-sized, edges edge-sized);
  * only JOINED rows (reached frontier ∪ its out-neighbors) carry mass —
  * unreached regions contribute no aggregate rows. Nothing collects.
  */
object SeedDistance {

  /** @param edges directed edge frame (srcCol, dstCol) — pass a
    *   symmetrized frame ([[EdgeFrames.symmetrizedWeighted]]) for
    *   undirected distance.
    * @param seeds 1-column frame of seed node ids; ids absent from the
    *   graph are ignored.
    * @param rounds hop horizon; nodes unreached within it get null.
    * @return (id, hops) for every node on either edge end.
    */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__t"))
    val seedIds = seeds.select(seeds.columns.head).toDF("__n").distinct()
    // the node set is read once (by the init checkpoint): not persisted
    val init = Rounds.materialize(EdgeFrames.nodes(e).join(
      seedIds.select(col("__n"), lit(0L).as("__d")), Seq("__n"), "left"))
    val dist = Rounds.iterate(init, rounds)((dist, _) => relax(e, dist))
    dist.select(col("__n").as("id"), col("__d").as("hops"))
  }

  /** One BFS round: per key, every node of `dist` (keys…, __n, __d)
    * takes min(__d, min over in-edges of `e` (keys…, __s, __t) of the
    * source's __d + 1); null __d = unreached. */
  private[graph] def relax(e: DataFrame, dist: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    // the reached side's keys are renamed so both join sides keep theirs
    val rk = keys.map(k => s"__r$k")
    val renamed = keys.zip(rk).map { case (k, r) => col(k).as(r) }
    def sameKey(on: Column): Column =
      keys.zip(rk).foldRight(on) { case ((k, r), c) => col(k) === col(r) && c }
    val reached = dist.where(col("__d").isNotNull)
      .select(renamed ++ Seq(col("__n"), col("__d")): _*)
    val relaxed = e.join(reached, sameKey(col("__s") === col("__n")))
      .groupBy(keys.map(col) :+ col("__t"): _*)
      .agg(min(col("__d") + 1).as("__nd"))
      .select(renamed ++ Seq(col("__t"), col("__nd")): _*)
    dist.join(relaxed, sameKey(col("__n") === col("__t")), "left")
      .select(keys.map(col) ++ Seq(col("__n"),
        least(col("__d"), col("__nd")).as("__d")): _*)
  }
}
