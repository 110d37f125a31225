package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.core.Rounds

/** Connected components of a pair graph — the single-link cluster
  * operator behind near-dup clusters, entity resolution and grid
  * DBSCAN. Output: (id, cluster) for every id appearing in `pairs`,
  * cluster = least id reachable.
  *
  * One operator, two physical paths picked from the input size (the
  * SystemML hybrid-runtime rule: a single-node operator when the input
  * fits the driver, a distributed one otherwise):
  *  - up to [[DriverMaxPairs]] pairs: union-find on the driver over the
  *    collected pairs — microseconds after one count and one collect,
  *    the common case (near-dup pair lists at sane thresholds are a
  *    small fraction of the corpus);
  *  - above it: alternating large-star / small-star (Kiveris,
  *    Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
  *    Components in MapReduce and Beyond", SoCC'14), which converges
  *    in O(log n) rounds because every round at least halves the
  *    potential. Each round is two self-contained (groupBy-min + join
  *    + distinct) passes over an EDGE-sized frame — no node-sized
  *    driver state, nothing collected.
  *
  * There is no min-label propagation path: it needs O(diameter) rounds
  * (a 10⁶-link chain — crawl frontier graphs have those — is 10⁶
  * joins), so large-star serves every input too big for the driver.
  */
object ConnectedComponents {

  /** Pair lists at or below this size resolve on the driver. */
  private val DriverMaxPairs = 1000000L

  /** Round cap of the large-star loop (O(log n) rounds to converge). */
  private val MaxRounds = 30

  /** @param pairs columns id_a, id_b (integral); undirected, dupes and
    *   self-loops tolerated.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // ids are compared as longs: a string id would silently cast ("7"
    // and "007" become one node), so only integral ids are accepted
    Seq("id_a", "id_b").foreach { n =>
      val dt = pairs.schema.find(_.name == n).map(_.dataType)
      require(dt.exists(Set(ByteType, ShortType, IntegerType, LongType)),
        s"connectedComponents: column $n must be integral, got " +
          dt.fold("no such column")(_.simpleString))
    }
    if (pairs.count() <= DriverMaxPairs) unionFind(pairs) else largeStar(pairs)
  }

  private def unionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val es = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // path compression; roots resolve to the component min because
    // union always keeps the smaller id as root
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val ids = es.flatMap { case (a, b) => Seq(a, b) }.distinct
    ids.map(id => (id, find(id))).toSeq.toDF("id", "cluster")
  }

  /** The distributed path, reachable directly so a gate can check it at
    * gate scale (where [[connectedComponents]] would pick union-find).
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
    */
  private[graft] def largeStar(pairs: DataFrame): DataFrame = {
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
    def largeStarStep(edges: DataFrame): DataFrame = {
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
    def smallStarStep(edges: DataFrame): DataFrame = {
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
    val e = Rounds.iterate(e0, if (eCount == 0L) 0 else MaxRounds, converged)(
      (e, _) => smallStarStep(largeStarStep(e)))

    // fixpoint is a star forest (src > dst = root); roots and isolated
    // nodes (self-loop-only inputs) label themselves
    nodes
      .join(e.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("dst"), col("id")).as("cluster"))
  }
}
