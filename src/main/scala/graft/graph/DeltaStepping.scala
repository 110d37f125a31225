package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Rounds

/** Weighted single-source shortest paths by delta-stepping (Meyer &
  * Sanders, "Δ-stepping: a parallelizable shortest path algorithm",
  * J. Algorithms 2003) — the bucketed Dijkstra that makes weighted
  * distance practical in bulk-synchronous frames, upgrading the
  * hop-count machinery ([[SeedDistance]]) to latency- or cost-weighted
  * link graphs.
  *
  * Tentative distances live in one node-sized frame. Buckets of width
  * Δ settle in ascending order; inside bucket b, LIGHT edges (ℓ ≤ Δ —
  * relaxing one can re-enter the bucket) relax iteratively from the
  * frontier of nodes that newly entered or improved within the bucket,
  * until the bucket stabilizes; HEAVY edges (ℓ > Δ — their targets
  * land in strictly later buckets) relax exactly ONCE from the settled
  * bucket membership. Work per relaxation is ONE edge-keyed equi-join
  * + ONE per-target min rollup + a node-sized merge, the
  * [[SeedDistance]] round shape; empty buckets are skipped by jumping
  * to the minimum unsettled bucket (a 1-row aggregate readout, the
  * HyperBall scalar convention). Driver state: the bucket index only.
  *
  * All distances are INTEGER sums of integer edge lengths, so the
  * result replays exactly in DuckDB integer arithmetic — and because
  * exact SSSP is schedule-independent, the oracle can verify the
  * fixpoint by plain chained Bellman–Ford relaxation rounds without
  * mirroring the bucket schedule.
  *
  * MULTI-SOURCE batching (r14 optimization round): the pivot-sampled
  * centralities run one SSSP per pivot, and each bucketed SSSP is a
  * long chain of SMALL jobs (per bucket: a 1-row min readout plus 2–3
  * frame materializations) — running k pivots as k independent chains
  * multiplies the job count, which is pure scheduling overhead locally
  * and k separate synchronization barriers at cluster scale.
  * [[shortestPathsMulti]] keys every frame by (seed, node) and settles
  * ONE global ascending bucket schedule: per seed this is exactly the
  * single-seed schedule with extra no-op phases interleaved, and exact
  * SSSP is schedule-independent, so each seed's distance column is
  * bit-identical to its own [[shortestPaths]] run (spec-pinned). The
  * relaxation joins stay edge-keyed equi-joins — the frames just carry
  * k·|V| rows instead of |V| — so the 100 TB shape is unchanged while
  * the job count divides by k. [[shortestPaths]] is the 1-seed slice
  * of the same engine.
  */
object DeltaStepping {

  /** @param edges directed (srcCol, dstCol, lenCol); lengths are cast
    *   to long and MUST be ≥ 1 — a caller contract, not validated
    *   (checking would cost a full edge-frame scan per call at 100 TB;
    *   bucket-monotone settling silently returns non-optimal
    *   distances on negative lengths, the classic Dijkstra
    *   precondition).
    * @param seeds 1-column frame of source node ids (distance 0). With
    *   MULTIPLE seeds this is the classic multi-source field: one row
    *   per node, dist = min over seeds (0 at every seed), null when no
    *   seed reaches it — the r14 batching regression that sliced the
    *   per-seed product to duplicate rows is fixed by the min rollup
    *   (r15, ADVICE).
    * @param delta bucket width Δ (light/heavy threshold).
    * @param maxBuckets hard cap on processed (non-empty) bucket phases
    *   PER SEED — at most one per node, so this is a runaway guard,
    *   not a truncation knob; exceeding it raises.
    * @return (id, dist) for every node on either edge end; null dist =
    *   unreachable.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      lenCol: String, seeds: DataFrame, delta: Long = 16L,
      maxBuckets: Int = 256): DataFrame =
    shortestPathsMulti(edges, srcCol, dstCol, lenCol, seeds,
      delta = delta, maxBuckets = maxBuckets)
      // min ignores nulls (min of all-null = null), so this IS the
      // multi-source min-distance field; for one seed it is the
      // identity on the per-seed rows
      .groupBy("id").agg(min("dist").as("dist"))

  /** All-seeds batched SSSP — (seed, id, dist) with each seed's dist
    * column identical to a [[shortestPaths]] run from that seed alone
    * (exact SSSP is schedule-independent; see class doc). The caller's
    * seed frame is deduplicated; every (seed, node-on-either-end) pair
    * gets a row, null dist = unreachable from that seed.
    */
  def shortestPathsMulti(edges: DataFrame, srcCol: String, dstCol: String,
      lenCol: String, seeds: DataFrame, delta: Long = 16L,
      maxBuckets: Int = 256): DataFrame = {
    require(delta >= 1, s"delta must be >= 1, got $delta")
    val e = edges.select(col(srcCol).cast("long").as("__s"),
      col(dstCol).cast("long").as("__t"),
      col(lenCol).cast("long").as("__l"))
    val light = e.filter(col("__l") <= delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val heavy = e.filter(col("__l") > delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = EdgeFrames.nodes(e)
    val seedIds = seeds.select(col(seeds.columns.head).cast("long")
      .as("__seed")).distinct()
    // (seed, node) tentative distances: 0 on the diagonal, else null.
    // The seed set is bounded by caller contract (pivot sampling), so
    // the cross join broadcasts it and the frame is k·|V| rows.
    var dist = Rounds.materialize(nodes.crossJoin(broadcast(seedIds))
      .select(col("__seed"), col("__n"),
        when(col("__n") === col("__seed"), lit(0L))
          .otherwise(lit(null).cast("long")).as("__d")))

    // integer division on the long column (SQL `div` → IntegralDivide):
    // distances are non-negative longs, so this IS floor division — and
    // unlike floor(d / Δ) through a double quotient it stays exact past
    // 2^53, which is the point of integer edge lengths at 100 TB
    def bucketOf(d: Column): Column = call_function("div", d, lit(delta))

    // candidates from relaxing `edgeFrame` out of `frontier` (keyed
    // (__seed, __n, __d)), kept only where they IMPROVE the current
    // tentative distance of the SAME seed
    def improvements(frontier: DataFrame, edgeFrame: DataFrame): DataFrame =
      edgeFrame.join(frontier, col("__s") === col("__n"))
        .groupBy(col("__seed"), col("__t"))
        .agg(min(col("__d") + col("__l")).as("__nd"))
        .join(dist.select(col("__seed").as("__sd2"), col("__n"),
            col("__d").as("__od")),
          col("__seed") === col("__sd2") && col("__t") === col("__n"),
          "left")
        .where(col("__od").isNull || col("__nd") < col("__od"))
        .select(col("__seed"), col("__t").as("__u"), col("__nd"))

    def merged(imp: DataFrame): DataFrame =
      dist.join(imp.select(col("__seed").as("__sd2"), col("__u"),
          col("__nd")),
        col("__seed") === col("__sd2") && col("__n") === col("__u"),
        "left")
        .select(col("__seed"), col("__n"),
          least(col("__d"), col("__nd")).as("__d"))

    // first non-empty bucket at or above `fromBucket` ACROSS all seeds;
    // -1 when none. Per seed the resulting schedule is its own
    // single-seed schedule plus skipped no-op phases.
    def nextBucket(fromBucket: Long): Long = {
      val r = dist.where(col("__d").isNotNull
          && col("__d") >= fromBucket * delta)
        .agg(min(bucketOf(col("__d"))).as("__b")).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }

    // the global schedule's non-empty phases are the UNION of the
    // per-seed phase sets, so the runaway cap scales with the seed
    // count (r15, ADVICE: a k-seed batch must not trip a cap each
    // single-seed run would have respected). seedIds is bounded by
    // caller contract and already broadcast-collected above.
    val nSeeds = math.max(seedIds.count(), 1L)
    val phaseCap = maxBuckets.toLong * nSeeds
    var b = nextBucket(0L)
    var phases = 0L
    while (b >= 0) {
      phases += 1
      require(phases <= phaseCap,
        s"delta-stepping exceeded $phaseCap bucket phases " +
          s"($maxBuckets x $nSeeds seeds; delta too small?)")
      // light-edge inner loop: frontier = (seed, node) pairs newly in /
      // improved within bucket b; stabilizes because integer distances
      // strictly decrease on every improvement. Frontiers derive LAZILY
      // off the checkpointed improvement frame — the only materializing
      // actions per iteration are the improvement checkpoint and the
      // merged-distance checkpoint. A distance frame is released once
      // its merged successor exists, an improvement frame once the NEXT
      // improvement frame exists (the frontier reads it until then).
      var imp = Rounds.materialize(improvements(
        dist.where(col("__d").isNotNull && bucketOf(col("__d")) === b),
        light))
      while (!imp.isEmpty) {
        val prevDist = dist
        dist = Rounds.materialize(merged(imp))
        Rounds.release(prevDist)
        val prevImp = imp
        imp = Rounds.materialize(improvements(
          imp.where(bucketOf(col("__nd")) === b)
            .select(col("__seed"), col("__u").as("__n"),
              col("__nd").as("__d")),
          light))
        Rounds.release(prevImp)
      }
      Rounds.release(imp)
      // heavy edges once, from the settled bucket membership
      val settled = dist
        .where(col("__d").isNotNull && bucketOf(col("__d")) === b)
      val impH = Rounds.materialize(improvements(settled, heavy))
      if (!impH.isEmpty) {
        val prevDist = dist
        dist = Rounds.materialize(merged(impH))
        Rounds.release(prevDist)
      }
      Rounds.release(impH)
      b = nextBucket(b + 1)
    }
    light.unpersist(blocking = false)
    heavy.unpersist(blocking = false)
    dist.select(col("__seed").as("seed"), col("__n").as("id"),
      col("__d").as("dist"))
  }
}
