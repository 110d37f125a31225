package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Connected components by alternating large-star / small-star
  * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
  * Components in MapReduce and Beyond", SoCC'14; the reference's
  * near-dup clustering is the same min-label semantics, e.g.
  * dask-ml's neighborhood joins resolved via graph components).
  *
  * This is the WEB-GRAPH-DIAMETER scale path that
  * [[graft.llmdata.Dedup.clusterNearDuplicates]]'s label-propagation
  * baseline deliberately skips: propagation needs O(diameter) rounds
  * (a 10⁶-link chain — crawl frontier graphs have those — is 10⁶
  * joins), while the alternating star rounds provably converge in
  * O(log n) because every round at least halves the potential. Each
  * round is two self-contained (groupBy-min + join + distinct)
  * passes over an EDGE-sized frame — no node-sized driver state, no
  * union-find, nothing collected.
  *
  * - large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
  *   v > u — strictly-larger neighbors link to the local minimum.
  * - small-star(u) over edges oriented (u, v), v < u: m = min(N(u));
  *   emit (u, m) and (v, m) for v ∈ N(u) \ {m}.
  *
  * Both steps preserve connectivity and never raise any node's
  * neighborhood minimum; the fixpoint is a star forest rooted at each
  * component's least id (paper Thms 1-2). Convergence is detected by
  * set equality of successive edge frames — checked with one
  * union-distinct count (edge frames are pair-graph-sized, far
  * smaller than the corpus that produced them). Each round is a
  * [[Rounds.iterate]] round, as in [[PageRank]].
  *
  * Output matches clusterNearDuplicates exactly: (id, cluster) for
  * every id appearing in `pairs`, cluster = least id reachable.
  */
object ConnectedComponents {

  /** @param pairs columns id_a, id_b (integral); undirected, dupes and
    *   self-loops tolerated.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val nodes = pairs
      .select(explode(array(col("id_a").cast("long"),
        col("id_b").cast("long"))).as("id"))
      .distinct()

    val e0 = Rounds.materialize(pairs
      .select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("dst2"),
        greatest(col("src"), col("dst")).as("src"))
      .select(col("src"), col("dst2").as("dst"))
      .distinct())
    var eCount = e0.count()

    // large-star: neighbors over BOTH directions; the strictly-larger
    // ones re-link to the neighborhood minimum
    def largeStar(edges: DataFrame): DataFrame = {
      val bi = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = bi.groupBy("src")
        .agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("src"), col("__mn")).as("__m"))
      bi.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // small-star: edges already oriented (src > dst); every smaller
    // neighbor plus u itself re-links to the minimum neighbor
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy("src").agg(min(col("dst")).as("__m"))
      val relinked = edges.join(mins, "src")
        .select(col("dst").as("src"), col("__m").as("dst"))
      val self = mins.select(col("src"), col("__m").as("dst"))
      relinked.union(self)
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // set equality: same cardinality and |A ∪ B| == |A|
    def converged(prev: DataFrame, next: DataFrame): Boolean = {
      val (prevCount, nextCount) = (eCount, next.count())
      eCount = nextCount
      nextCount == prevCount && next.union(prev).distinct().count() == prevCount
    }
    // large-star output orientation: (v, m) with v > m already
    val e = Rounds.iterate(e0, if (eCount == 0L) 0 else maxIter, converged)(
      (e, _) => smallStar(largeStar(e)))

    // fixpoint is a star forest (src > dst = root); roots and isolated
    // nodes (self-loop-only inputs) label themselves
    nodes
      .join(e.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("dst"), col("id")).as("cluster"))
  }
}
