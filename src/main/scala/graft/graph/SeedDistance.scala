package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Memos, Rounds}

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
    val nodes = Memos.persist(e.select(col("__s").as("__n"))
      .union(e.select(col("__t").as("__n"))).distinct())
    val seedIds = seeds.select(seeds.columns.head).toDF("__n").distinct()
    val init = Rounds.materialize(nodes.join(
      seedIds.select(col("__n"), lit(0L).as("__d")), Seq("__n"), "left"))
    val dist = Rounds.iterate(init, rounds) { (dist, _) =>
      val relaxed = e.join(dist.where(col("__d").isNotNull),
          col("__s") === col("__n"))
        .groupBy(col("__t")).agg(min(col("__d") + 1).as("__nd"))
      dist.join(relaxed, col("__n") === col("__t"), "left")
        .select(col("__n"), least(col("__d"), col("__nd")).as("__d"))
    }
    dist.select(col("__n").as("id"), col("__d").as("hops"))
  }
}
