package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Memos

/** Exact triangle counting + local clustering coefficient via
  * degree-ordered wedge joins (Suri & Vassilvitskii, "Counting
  * Triangles and the Curse of the Last Reducer", WWW'11) — the graph
  * statistic that grades link/co-occurrence graphs a crawl pipeline
  * builds (community density, spam-farm detection, co-purchase
  * affinity).
  *
  * Scale shape: every edge is oriented from its lexicographically
  * LOWER (degree, id) endpoint to its higher one, so each triangle is
  * generated exactly once AND every node's oriented out-degree is
  * O(√m) — the orientation, not salting, is what defuses the
  * power-law hub ("last reducer") skew: wedges pivot at each
  * triangle's lowest-degree corner, never at the hub. Total wedge
  * volume is the provably optimal O(m^{3/2}). Three shuffles overall
  * (degree aggregate, wedge self-join on the pivot, closing-edge
  * equi-join); frames are edge-sized throughout — nothing is
  * node-bounded on the driver and nothing is collected.
  *
  * Output: one row per node with degree ≥ 1 — (id, degree, triangles,
  * clustering_coeff) where clustering_coeff = 2·T(v) / (deg(v)·(deg(v)−1))
  * (Watts–Strogatz), 0.0 for degree-1 nodes, rounded to 6 for exact
  * cross-engine replay.
  */
object Triangles {

  /** @param sym shared [[EdgeFrames.symmetrizedWeighted]] frame: the
    *   canonical u < v edge set is its __s < __t half, and the true
    *   undirected degree is its per-__s row count (each unordered edge
    *   appears once per direction).
    */
  def nodeTrianglesOn(sym: DataFrame): DataFrame = {
    // canonical undirected edge set (u < v)
    val e = sym.filter(col("__s") < col("__t"))
      .select(col("__s").as("u"), col("__t").as("v"))

    // true (undirected) degree — consumed by both orientation joins and
    // the final report
    val deg = Memos.persist(sym.groupBy("__s").agg(count(lit(1)).as("degree"))
      .select(col("__s").as("id"), col("degree")))

    // orient each edge low-rank → high-rank, rank = (degree, id);
    // carry the dst rank so wedge ordering needs no further join
    val lowFirst = {
      val du = deg.select(col("id").as("u"), col("degree").as("__du"))
      val dv = deg.select(col("id").as("v"), col("degree").as("__dv"))
      e.join(du, "u").join(dv, "v")
    }
    val uLow = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    val oriented = Memos.persist(lowFirst.select(
        when(uLow, col("u")).otherwise(col("v")).as("src"),
        when(uLow, col("v")).otherwise(col("u")).as("dst"),
        when(uLow, col("__dv")).otherwise(col("__du")).as("dstDeg")))

    // wedges pivoting at the lowest-rank corner; the two arms ordered
    // by the same rank so the candidate closing edge (b, c) is already
    // in oriented form
    val w1 = oriented.select(col("src").as("a"), col("dst").as("b"),
      col("dstDeg").as("db"))
    val w2 = oriented.select(col("src").as("a"), col("dst").as("c"),
      col("dstDeg").as("dc"))
    val wedges = w1.join(w2, Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))

    // close the wedge: {b, c} must be an edge (oriented b → c by rank).
    // Bloom pre-filter (guide §3.2, r14 optimization round): the wedge
    // frame is O(m^1.5) rows but only the tiny triangle fraction
    // survives the closing join — pre-filtering wedges against a bloom
    // of the oriented edge PAIRS drops ~all non-closing wedges BEFORE
    // they shuffle. No false negatives (the exact join below still
    // verifies every survivor), so the result is unchanged; false
    // positives only cost a little extra shuffle.
    //
    // Sizing (r15, ADVICE fix): BloomFilterAggregate clamps its item
    // estimate to spark.sql.optimizer.runtime.bloomFilter.maxNumItems
    // (4M default) and its bit count to 67108864, so the old 1e8-edge
    // guard built filters that saturated toward all-pass between ~10M
    // and 100M edges while still paying the aggregation and an ~8 MB
    // broadcast literal. The guard now engages only up to the session's
    // maxNumItems (where the estimate is honored), and numBits is
    // passed EXPLICITLY at ~10 bits/item (fpp < 1%) instead of the
    // fixed conf default — beyond that the plain join path runs
    // unchanged and nothing edge-scale reaches the driver.
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val nOriented = oriented.count() // cheap: persisted frame
    val bloomMaxItems = sym.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
      .toLong
    val wedgesPruned =
      if (nOriented <= bloomMaxItems) {
        val bridge = org.apache.spark.sql.graft.ExpressionBridge
        val items = math.max(nOriented, 1L)
        val bfBytes = oriented
          .agg(bridge.bloomFilterAgg(xxhash64(col("src"), col("dst")),
            items,
            // ≥ the engine's 8388608-bit conf default so small graphs
            // keep their near-zero fpp; 10 bits/item above that
            math.min(math.max(items * 10L, 8388608L), 67108864L))
            .as("__bf"))
          .head.getAs[Array[Byte]]("__bf")
        wedges.filter(bridge.bloomMightContain(lit(bfBytes),
          xxhash64(col("b"), col("c"))))
      } else wedges
    val triangles = wedgesPruned.join(closing, Seq("b", "c"))

    // per-node membership counts → the standard local coefficient
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }
}
