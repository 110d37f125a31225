package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Every top-k entry here is ONE search ([[search]]): broadcast the
  * small `(query_id, qv, …)` query side, join it to the corpus side on
  * a probe key, keep pairs with `id ≠ query_id`, add a score column and
  * take each query's top k with a bounded size-k-heap aggregate
  * ([[topKPerQuery]]; map-side partial merge, so at 100 TB the only
  * shuffle carries ≤ k·nPartitions rows per query). The probe key is
  * one of three:
  *  - none: every pair is scored (exact brute force — [[cosineTopK]],
  *    [[knnGraph]], [[sqTopK]], [[pqAdcTopK]]);
  *  - the LSH bucket ([[lshProbe]]): sign-random-projection signatures
  *    (Charikar), each query probing its own bucket and optionally its
  *    Hamming-1 neighbours — [[lshCosineTopK]], [[knnGraphLsh]];
  *  - the IVF cell ([[ivfProbe]]): the query's `nProbe` nearest k-means
  *    cells — [[ivfCosineTopK]], [[ivfPqTopK]].
  * (The exact re-rank of [[pqAdcTopKReranked]] keys its PQ candidates
  * by query id.) The entries differ only in the corpus code (raw
  * vectors, the SQ8 round trip or PQ codes) and in the score
  * expression, each kept exactly: raw cosine, cosine rounded to 6 dp,
  * or −round(ADC, 6).
  */
object Ann {

  /** dot(a,b) with float/double elements upcast to double — a native
    * codegen expression (graft.functions.VecDot); bit-identical to the
    * `aggregate(zip_with(...))` HOF form it replaced, but fused into
    * WholeStageCodegen instead of interpreting lambdas per element.
    */
  def dotExpr(a: Column, b: Column): Column =
    graft.functions.VecDot(a, b)

  def normExpr(a: Column): Column = sqrt(dotExpr(a, a))

  /** L2-normalize (native codegen loop — graft.functions.VecNormalize);
    * after this, cosine similarity is a plain dot product, so an ANN
    * index over normalized vectors skips the per-pair norm math.
    */
  def l2NormalizeExpr(a: Column): Column = graft.functions.VecNormalize(a)

  /** Project onto `basis` (k literal vectors, e.g. top-k principal
    * axes): an array of k codegen'd [[dotExpr]]s — the map-only
    * dimensionality-reduction step in front of an ANN index. At 100 TB
    * this fuses into the scan: no shuffle, k·dim multiply-adds per row.
    */
  def projectExpr(vecCol: Column, basis: Array[Array[Double]]): Column =
    array(basis.toIndexedSeq.map { b =>
      dotExpr(vecCol, array(b.map(lit).toIndexedSeq: _*))
    }: _*)

  /** Matryoshka truncation (Kusupati et al., arXiv:2205.13147: MRL
    * embeddings are trained so prefixes are usable sub-embeddings):
    * keep the first `d` dims and re-L2-normalize — the standard
    * storage/latency knob in front of an ANN index. Map-only,
    * scan-fused; at 100 TB truncating 64→16 dims cuts the index scan
    * volume 4× before any quantization.
    */
  def truncateNormalizeExpr(vecCol: Column, d: Int): Column =
    l2NormalizeExpr(slice(vecCol, 1, d))

  /** Per-query top-k of a scored candidate stream via the bounded
    * size-k-heap aggregate (graft.functions.TopKByScore), NOT a
    * `row_number` window: a window `partitionBy(query_id)` ships every
    * scored candidate of a query to ONE task and sorts it (~|corpus|
    * rows/task for brute force at scale); the aggregate's partial phase
    * caps each partition's contribution at k pairs per query before the
    * shuffle, so the exchange carries ≤ k·nPartitions rows per query.
    * Ordering (score desc, id asc) matches the window form exactly.
    */
  private def topKPerQuery(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScore(col("cos"), col(idCol), k).as("__nn"))
      .select(col("query_id"), posexplode(col("__nn")).as(Seq("__pos", "__s")))
      .select(col("query_id"), (col("__pos") + 1).as("rank"),
        col("__s.id").as("neighbor_id"), col("__s.score").as("cos"))

  /** A probe key: the column both sides carry, how a corpus row gets
    * its key, and how a query expands to one row per probed key. A
    * (corpus row, query) pair must share at most one key, so that it is
    * scored at most once: an LSH or IVF corpus row holds exactly one.
    */
  private[llmdata] final case class Probe(key: String,
      corpusSide: DataFrame => DataFrame, querySide: DataFrame => DataFrame)

  /** The `(query_id, qv)` query side of a search. */
  private[llmdata] def querySide(queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))

  /** The one search: join the corpus side `c` to the query side `q`
    * (broadcast unless it is corpus-sized) on the probe key, or with a
    * plain non-equi join when there is none; keep pairs with
    * `id ≠ query_id` and `pairFilter`; score them into `cos`; take each
    * query's top k. Output (query_id, rank, neighbor_id, cos).
    */
  private def search(c: DataFrame, q: DataFrame, idCol: String,
      probe: Option[Probe], score: Column, k: Int,
      pairFilter: Option[Column] = None,
      broadcastQueries: Boolean = true): DataFrame = {
    def side(df: DataFrame) = if (broadcastQueries) broadcast(df) else df
    val keep = pairFilter.foldLeft(col(idCol) =!= col("query_id"))(_ && _)
    val pairs = probe match {
      case None => c.join(side(q), keep)
      case Some(p) =>
        p.corpusSide(c).join(side(p.querySide(q)), Seq(p.key)).filter(keep)
    }
    topKPerQuery(pairs.withColumn("cos", score), idCol, k)
  }

  /** [[search]] scored by cosine. Norms are computed ONCE per corpus row
    * (`__nc`) and once per query (`__nq`), not per (query, row) pair —
    * a |Q|-query search would otherwise traverse each corpus vector
    * 2|Q|+1 times instead of |Q|+2. `rounded` ranks on round(cos, 6)
    * with id tie break, so ranks replay in any engine.
    */
  private[llmdata] def cosineSearch(corpus: DataFrame, vecCol: String,
      queries: DataFrame, idCol: String, k: Int, rounded: Boolean,
      probe: Option[Probe] = None, pairFilter: Option[Column] = None,
      broadcastQueries: Boolean = true): DataFrame = {
    val cos = dotExpr(col("qv"), col(vecCol)) / (col("__nq") * col("__nc"))
    search(corpus.withColumn("__nc", normExpr(col(vecCol))),
      queries.withColumn("__nq", normExpr(col("qv"))), idCol, probe,
      if (rounded) round(cos, 6) else cos, k, pairFilter, broadcastQueries)
  }

  /** Exact top-k cosine neighbors of each query vector.
    * @param corpus (idCol, vecCol) rows to search
    * @param queries (idCol, vecCol) rows to search for (small; broadcast)
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    cosineSearch(corpus, vecCol, querySide(queries, idCol, vecCol), idCol, k,
      rounded = false)

  /** Deterministic ±1 hyperplanes from a seed (md5-bit-derived), as
    * literal arrays — broadcast implicitly with the plan.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Int = 42): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed|$p|$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 1) 1.0 else -1.0
      }
    }

  /** b-bit sign signature of a vector against the planes. */
  def signatureExpr(vecCol: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, j) =>
      val planeLit = array(plane.map(lit).toIndexedSeq: _*)
      when(dotExpr(vecCol, planeLit) > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** The LSH probe: each corpus row sits in the bucket of its b-bit
    * signature.
    * @param multiProbe 0 = each query probes only its own bucket (the
    *   recall cliff: a query near a hyperplane misses neighbors across
    *   it); 1 = also probe every bucket at Hamming distance 1 (flip
    *   each signature bit) — nPlanes+1 buckets per query, the standard
    *   multi-probe recall fix (Lv et al. VLDB'07).
    */
  private def lshProbe(vecCol: String, nPlanes: Int, dim: Int, seed: Int,
      multiProbe: Int): Probe = {
    require(multiProbe == 0 || multiProbe == 1,
      s"multiProbe must be 0 (own bucket) or 1 (Hamming-1), got $multiProbe")
    val planes = hyperplanes(nPlanes, dim, seed)
    Probe("bucket",
      _.withColumn("bucket", signatureExpr(col(vecCol), planes)),
      q => {
        val q0 = q.withColumn("__b0", signatureExpr(col("qv"), planes))
        if (multiProbe == 0) q0.withColumn("bucket", col("__b0")).drop("__b0")
        else {
          val probes = array((col("__b0") +:
            (0 until nPlanes).map(j =>
              col("__b0").bitwiseXOR(lit(1L << j)))): _*)
          q0.withColumn("bucket", explode(probes)).drop("__b0")
        }
      })
  }

  /** LSH-bucketed ANN: candidates = the probed buckets, then exact
    * cosine top-k within. Recall < 1; bucket count 2^nPlanes trades
    * recall for candidate-set size; `multiProbe` as in [[lshProbe]].
    */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int, dim: Int, seed: Int = 42,
      multiProbe: Int = 0): DataFrame =
    cosineSearch(corpus, vecCol, querySide(queries, idCol, vecCol), idCol, k,
      rounded = false,
      probe = Some(lshProbe(vecCol, nPlanes, dim, seed, multiProbe)))

  /** First-class bounded-degree kNN graph over an embedding corpus —
    * the base graph for common-neighbor link prediction
    * (q_adamic_adar), SemDeDup-style clustering, and any graph
    * algorithm that needs degrees independent of corpus growth (a
    * co-occurrence graph's degrees grow with the corpus; a kNN graph's
    * are k BY CONSTRUCTION, so wedge volume stays ~n·k²).
    *
    * This brute variant is the search with queries = corpus, the query
    * side broadcast — exact, for bounded corpora and gate slices; the
    * scale path is [[knnGraphLsh]]. Cosines are QUANTIZED (round 6)
    * BEFORE the bounded top-k heap so neighbor ranks replay in any
    * engine.
    *
    * @return (src, rank, dst, cos) — k rows per node, ties broken
    *   (cos desc, dst asc)
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    asGraph(cosineSearch(corpus, vecCol, querySide(corpus, idCol, vecCol),
      idCol, k, rounded = true))

  /** [[knnGraph]] at scale: candidates from the hyperplane-LSH bucket
    * join instead of all pairs. The corpus is bucketed ONCE and stays
    * in one bucket per row; the probe side of the SAME corpus explodes
    * to its own bucket plus the `multiProbe` Hamming-1 flips, so the
    * join is a bucket-keyed equi-join — the probe side is corpus-sized,
    * so it is NOT broadcast, and there is no all-pairs blow-up;
    * candidate volume is Σ_b |b|·|probes into b|. Per-node degree is
    * still capped at k by the bounded heap, with the same
    * round-6-before-heap rank replay. Recall < 1 (gated vs [[knnGraph]]
    * in q_knn_graph).
    */
  def knnGraphLsh(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int, dim: Int, seed: Int = 42,
      multiProbe: Int = 1): DataFrame =
    asGraph(cosineSearch(corpus, vecCol, querySide(corpus, idCol, vecCol),
      idCol, k, rounded = true,
      probe = Some(lshProbe(vecCol, nPlanes, dim, seed, multiProbe)),
      broadcastQueries = false))

  private def asGraph(nn: DataFrame): DataFrame =
    nn.select(col("query_id").as("src"), col("rank"),
      col("neighbor_id").as("dst"), col("cos"))

  /** IVF (inverted-file) ANN — the other standard scale path next to
    * sign-LSH: partition the corpus into `nList` Voronoi cells around
    * k-means centroids, then each query scores only the cells of its
    * `nProbe` nearest centroids (Jégou et al., PAMI'11 §III; same
    * coarse-quantizer design as FAISS's IndexIVFFlat).
    *
    * Spark mapping: centroids are fit on a bounded sample (driver-side
    * Lloyd — nList·dim doubles), shipped as literals; cell assignment is
    * a map-only argmin over nList dot products fused into the scan; the
    * probe step is an equi-join on cell id against a broadcast
    * (query, probed-cell) list — each corpus row is scored by at most
    * the queries probing its cell. At 100 TB: one scan to bucket, one
    * broadcast-join scan to score, a tiny top-k shuffle; candidate
    * volume is |corpus|·nProbe/nList on average.
    *
    * @param rowCountHint corpus row count, if the caller already knows
    *   it (e.g. from table stats or an earlier action) — sizes the
    *   hash-range pre-filter without the extra full scan a `count()`
    *   costs per index build. An overestimate only widens the filter
    *   slightly; an underestimate below 8·sampleSize skips it (safe:
    *   the ordered limit still bounds the sample).
    */
  def ivfIndex(corpus: DataFrame, vecCol: String, nList: Int, dim: Int,
      sampleSize: Int = 100000, iters: Int = 10, seed: Long = 42,
      rowCountHint: Option[Long] = None): Array[Array[Double]] = {
    val sample = hashUniformSample(corpus, vecCol, sampleSize, seed, rowCountHint)
    lloydOnSample(sample, nList, dim, iters, seed)
  }

  /** Content-hash UNIFORM sample, not `limit()`: limit takes the first
    * partitions' rows in scan order, so on a sorted/clustered corpus
    * (the norm for 100 TB parquet) a quantizer would train on one
    * shard's distribution — unrepresentative centroids skew cell
    * occupancy and concentrate the probe join on hot cells (FAISS
    * trains its IVF quantizer on a uniform sample; Jégou PAMI'11 §III).
    * Ranking rows by a seeded content hash makes the sample uniform
    * AND deterministic across both row order and partitioning. The
    * ordered limit stays bounded at scale: a scan-fused hash-range
    * filter first cuts the input to ~8× sampleSize expected rows, so
    * TakeOrderedAndProject's per-partition top-k never retains more
    * than the filtered slice and the driver merge is O(sampleSize).
    */
  private[llmdata] def hashUniformSample(corpus: DataFrame, vecCol: String,
      sampleSize: Int, seed: Long,
      rowCountHint: Option[Long]): Array[Array[Double]] = {
    val hashed = corpus
      .select(col(vecCol).as("__v"),
        xxhash64(lit(seed), col(vecCol)).bitwiseAND(lit(Long.MaxValue)).as("__h"))
    val total = rowCountHint.getOrElse(corpus.count())
    val bounded =
      if (total > sampleSize.toLong * 8) {
        val frac = sampleSize.toLong * 8.0 / total
        hashed.filter(col("__h") < lit((Long.MaxValue * frac).toLong))
      } else hashed
    val sample = bounded.orderBy("__h").limit(sampleSize).select("__v").collect()
      .map(_.getSeq[Any](0).toArray.map {
        case f: Float => f.toDouble; case d: Double => d
      })
    require(sample.nonEmpty, "empty corpus")
    sample
  }

  /** Driver-side Lloyd on a bounded sample (deterministic seed init;
    * nList·dim state). floorMod in the init: abs(Long.MinValue) is
    * negative and +i can overflow.
    */
  private[llmdata] def lloydOnSample(sample: Array[Array[Double]], nList: Int,
      dim: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    var centroids = Array.tabulate(nList)(i => sample(
      math.floorMod(rnd.nextLong() + i, sample.length.toLong).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nList)(new Array[Double](dim))
      val counts = new Array[Long](nList)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nList) {
          var d2 = 0.0; var j = 0
          while (j < dim) { val d = v(j) - centroids(c)(j); d2 += d * d; j += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(nList)(c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(j => sums(c)(j) / counts(c)))
      it += 1
    }
    centroids
  }

  /** Product-quantization codebooks (Jégou et al. PAMI'11 §IV — the
    * design FAISS's IndexPQ implements): split the `dim` dimensions
    * into `m` contiguous subspaces of dim/m, and k-means each subspace
    * independently (`ksub` centroids) on the SAME content-hash uniform
    * sample the IVF quantizer trains on. Returns
    * `codebooks(j)(c) = centroid c of subspace j` (m·ksub·dsub
    * doubles — driver-tiny).
    *
    * Why at 100 TB: a 64-d float vector is 256 bytes; its PQ code is
    * m bytes (m=8 → 32× smaller). The ADC scan then reads codes, not
    * vectors — the index fits in a fraction of the corpus footprint
    * and each query·row score is m table lookups instead of dim
    * multiply-adds.
    */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int, ksub: Int, dim: Int,
      sampleSize: Int = 100000, iters: Int = 10, seed: Long = 42,
      rowCountHint: Option[Long] = None): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val dsub = dim / m
    val sample = hashUniformSample(corpus, vecCol, sampleSize, seed, rowCountHint)
    Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      // per-subspace seed: independent inits, still fully deterministic
      lloydOnSample(sub, ksub, dsub, iters, seed + j)
    }
  }

  /** PQ encode: `array<int>` of length m, code j = first-minimum argmin
    * over subspace j's `ksub` centroids of
    * `-2·x_j·c + ‖c‖²` (the `‖x_j‖²` term is constant per subspace and
    * dropped, exactly like [[cellExpr]]). Map-only, scan-fused: the
    * one-off encode pass over a 100 TB corpus is a single scan writing
    * m-byte codes. One [[graft.functions.PqEncode]] codegen call — the
    * codebooks are a reference object, not plan literals, so generated
    * code stays constant-size at production dims (the old unrolled
    * argmin overflowed janino's 64 KB limit when carried into another
    * stage's projection).
    */
  def pqCodeExpr(vecCol: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncode(vecCol, codebooks)

  /** Asymmetric-distance (ADC) top-k: each query computes its m·ksub
    * distance table in-plan (`dt(j)(c) = ‖q_j − c‖²`, the exact PAMI'11
    * eq. 12 estimator), the corpus carries only its codes, and the
    * per-pair score is m codegen'd table lookups
    * (`Σ_j dt(j)(code_j)`) — no vector math on the corpus side of the
    * join. Queries broadcast with their tables; top-k via the bounded
    * heap aggregate, ranked by ascending ADC distance ROUNDED to 6 dp
    * (ties by id): sum() accumulation order is engine-specific, so
    * ranking on the raw double could flip a rank-k boundary by one ulp
    * between engines — same determinism convention as q_bm25_topk.
    *
    * At 100 TB: one scan to encode (or a pre-encoded code column), one
    * broadcast-join scan doing m lookups per (query, row), a tiny top-k
    * shuffle. Recall < 1 from quantization error — raise m/ksub, or
    * re-rank the top-k' exactly with the true vectors.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    adcSearch(corpus, queries, idCol, vecCol, k, codebooks, probe = None)

  /** [[search]] scored by −round(ADC, 6): the corpus side carries its PQ
    * codes, the query side its distance tables; `adc_d` is the rounded
    * ADC distance of each kept neighbor.
    */
  private def adcSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, codebooks: Array[Array[Array[Double]]],
      probe: Option[Probe]): DataFrame =
    search(corpus.withColumn("__code", pqCodeExpr(col(vecCol), codebooks)),
      querySide(queries, idCol, vecCol)
        .withColumn("__dt", pqDistTablesExpr(codebooks)),
      idCol, probe, round(adcSumExpr(codebooks.length), 6) * lit(-1.0), k)
      .withColumn("adc_d", col("cos") * lit(-1.0)).drop("cos")

  /** PQ search with exact re-ranking (the standard recall-recovery
    * step — PAMI'11 §VII evaluates exactly this IVFADC+R shape): ADC
    * retrieves `rerank` coarse candidates per query (cheap m-lookup
    * scoring), then ONLY those candidates are re-scored with true
    * cosine against the broadcast query vectors and the top `k` kept.
    * The re-rank search's probe key is the query id: each candidate row
    * is keyed by the queries whose coarse list holds it. At 100 TB the
    * corpus-wide scan still reads only codes; the exact math touches
    * `rerank·|Q|` rows — a driver-bounded semi-join back into the
    * vector table.
    */
  def pqAdcTopKReranked(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, codebooks: Array[Array[Array[Double]]],
      rerank: Int = 20): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val coarse = pqAdcTopK(corpus, queries, idCol, vecCol, rerank, codebooks)
      .select(col("query_id"), col("neighbor_id"))
    val cand = corpus
      .join(broadcast(coarse.select(col("neighbor_id").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
    val byQuery = Probe("query_id",
      c => coarse.join(c, col(idCol) === col("neighbor_id")), identity)
    cosineSearch(cand, vecCol, querySide(queries, idCol, vecCol), idCol, k,
      rounded = true, probe = Some(byQuery))
  }

  /** IVFPQ — the composed FAISS workhorse (Jégou PAMI'11 §V, minus
    * residual encoding: codes quantize the RAW vectors, so the coarse
    * cells only prune candidates; adding residuals would be a per-cell
    * codebook offset on the same plan): queries probe their `nProbe`
    * nearest cells and candidates score by the m-lookup ADC sum.
    *
    * At 100 TB the search scan reads (cell, code) — ~(4+m) bytes per
    * row instead of the 4·dim-byte vector — candidate volume is
    * |corpus|·nProbe/nList, and the probe join carries no vector math
    * at all.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], nProbe: Int = 2): DataFrame =
    adcSearch(corpus, queries, idCol, vecCol, k, codebooks,
      probe = Some(ivfProbe(vecCol, centroids, nProbe)))

  /** Scalar 8-bit quantization training (the FAISS ScalarQuantizer
    * QT_8bit design, Jégou PAMI'11 §III positions SQ as the baseline PQ
    * improves on): each dimension gets an affine 256-level grid over
    * its corpus [min, max]. ONE aggregate pass over the corpus (2·dim
    * driver doubles); a zero-span dimension keeps scale 1 so its codes
    * collapse to 0 without dividing by zero.
    */
  def sqTrain(corpus: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val aggs = (0 until dim).flatMap(d => Seq(
      min(element_at(col(vecCol), d + 1)).cast("double").as(s"mn_$d"),
      max(element_at(col(vecCol), d + 1)).cast("double").as(s"mx_$d")))
    val row = corpus.agg(aggs.head, aggs.tail: _*).head()
    val mins = Array.tabulate(dim)(d => row.getDouble(2 * d))
    val scales = Array.tabulate(dim) { d =>
      val span = row.getDouble(2 * d + 1) - row.getDouble(2 * d)
      if (span > 0) span / 255.0 else 1.0
    }
    (mins, scales)
  }

  /** Asymmetric SQ8 search: corpus rows are scored from their
    * RECONSTRUCTED vectors (graft.functions.SqRoundTrip: encode →
    * decode fused into one loop in the scan — at 100 TB the stored
    * index is dim bytes/row), queries keep their exact vectors and
    * broadcast. Cosine ranked ROUNDED to 6 dp (ties
    * by id) via the bounded-heap top-k — the house ANN determinism
    * convention. Recall sits between PQ (coarser) and exact
    * brute-force; unlike PQ there is no per-query table, so the
    * per-pair cost stays one fused dot product.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, mins: Array[Double],
      scales: Array[Double]): DataFrame =
    cosineSearch(
      corpus.select(col(idCol),
        graft.functions.SqRoundTrip(col(vecCol), mins, scales).as("__xhat")),
      "__xhat", querySide(queries, idCol, vecCol), idCol, k, rounded = true)

  /** Squared-L2 argmin cell id over the trained centroids — map-only.
    * ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; ‖x‖² is common to all cells, so
    * comparing −2x·c + ‖c‖² suffices. One [[graft.functions.PqEncode]]
    * call with a single whole-vector "subspace": the centroids ride as
    * a codegen reference object, so generated-code size is constant in
    * nList·dim (the unrolled per-centroid form grew linearly and
    * tripped janino's 64 KB method limit at production dims).
    */
  def cellExpr(vecCol: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.PqEncode(vecCol, Array(centroids)).getItem(0)

  /** Incremental ingest against a TRAINED IVF/PQ index — the embedding
    * analog of the dedup family's dropKnownFingerprints: new documents
    * get their index entry (coarse cell, PQ code, norm) from ONE
    * scan-fused projection against the broadcast-literal centroids and
    * codebooks. No retrain, no read of the existing postings, no
    * global state — which is exactly why incremental assignment ≡ full
    * re-index on unchanged centroids holds frame-for-frame (spec'd in
    * AnnIngestSpec): the entry is a pure per-row function. Appending
    * the returned frame to the stored index (ideally bucketed by
    * `cell`) is the whole ingest; [[ivfCosineTopK]]/[[ivfPqTopK]]
    * searches are oblivious to WHEN a row was indexed.
    *
    * At 100 TB: the daily-shard ingest is a map-only scan of the new
    * shard writing m-byte codes — the corpus-sized index never
    * rewrites.
    */
  def ivfPqIndexEntries(batch: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    batch.select(col(idCol).as("id"),
      cellExpr(col(vecCol), centroids).as("cell"),
      pqCodeExpr(col(vecCol), codebooks).as("code"),
      round(normExpr(col(vecCol)), 6).as("norm"))

  /** The IVF probe: each corpus row sits in its nearest cell
    * ([[cellExpr]]); each query probes its `nProbe` nearest cells
    * (graft.functions.ProbeCells on `qv`).
    */
  private def ivfProbe(vecCol: String, centroids: Array[Array[Double]],
      nProbe: Int): Probe = {
    require(nProbe >= 1 && nProbe <= centroids.length,
      s"nProbe must be in [1, ${centroids.length}], got $nProbe")
    Probe("__cell",
      _.withColumn("__cell", cellExpr(col(vecCol), centroids)),
      _.withColumn("__cell", explode(
        graft.functions.ProbeCells(col("qv"), centroids, nProbe))))
  }

  /** The m·ksub ADC distance tables of the vector in column `qv`
    * (`dt(j)(c) = ‖q_j − c‖²`), as a nested array — the query side of
    * [[adcSearch]].
    */
  private def pqDistTablesExpr(codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqDistTables(col("qv"), codebooks)

  /** Codegen'd ADC sum: Σ_j dt(j)(code_j) — static GetArrayItem per j
    * plus one dynamic element_at per lookup, no interpreted lambdas.
    */
  private def adcSumExpr(m: Int): Column =
    (0 until m).map(j =>
      element_at(col("__dt").getItem(j), col("__code").getItem(j) + 1))
      .reduce(_ + _)

  /** IVF-bucketed top-k cosine: queries probe their `nProbe` nearest
    * cells. Recall < 1 at cell boundaries (the IVF analog of the LSH
    * recall cliff); raise nProbe to trade cost for recall.
    */
  def ivfCosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      nProbe: Int = 2): DataFrame =
    cosineSearch(corpus, vecCol, querySide(queries, idCol, vecCol), idCol, k,
      rounded = false, probe = Some(ivfProbe(vecCol, centroids, nProbe)))

  /** SemDeDup (Abbas et al., arXiv:2303.09540 — public): SEMANTIC
    * near-duplicate pairs via k-means clustering + within-cluster
    * cosine. The paper's recipe: k-means the embedding space, then
    * compare pairs ONLY inside each cluster — cross-cluster pairs are
    * assumed dissimilar by construction — and drop all but one member
    * of each high-cosine group. Here:
    *
    *  - clustering is the map-only [[cellExpr]] argmin over literal
    *    centroids (train them once with [[ivfIndex]] — the same
    *    deterministic quantizer IVF search uses, so one trained
    *    codebook serves BOTH ANN search and semantic dedup);
    *  - the within-cluster self-join is skew-capped like every other
    *    self-join here (a degenerate cluster would square), with the
    *    cap an explicit recall tradeoff documented at the call site;
    *  - representative selection is deterministic min-id (the paper
    *    keeps a random/low-centroid-sim member; min-id makes the gate
    *    reproducible) — apply [[Dedup.dropNearDuplicates]] (pairwise)
    *    or [[Dedup.dropNearDuplicatesTransitive]] (single-link) to
    *    the returned pairs.
    *
    * At 100 TB: one scan to assign cells (fused argmin), one
    * cell-keyed shuffle for the self-join whose per-cell cost is
    * bounded by maxClusterSize², and nothing else — the nList knob
    * (≈ √n in the paper) keeps cells small.
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double,
      maxClusterSize: Int = 10000): DataFrame = {
    val assigned = df
      .withColumn("__cell", cellExpr(col(vecCol), centroids))
      .withColumn("__n", normExpr(col(vecCol)))
    val capped =
      if (maxClusterSize == Int.MaxValue) assigned
      else Dedup.dropOversized(assigned, Seq("__cell"), maxClusterSize)
    val a = capped.select(col("__cell"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("__n").as("na"))
    val b = capped.select(col("__cell"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("__n").as("nb"))
    // each row sits in exactly ONE cell, so a pair appears at most once
    // — no distinct needed after the join
    a.join(b, Seq("__cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dotExpr(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("__cell").as("cluster"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Per-group mean embedding (domain centroid): posexplode to
    * (key, dim, v), partial-aggregated avg per (key, dim), reassembled
    * in dim order — both shuffles are key-bounded (groups × dim rows),
    * the corpus passes once, and no vector ever rides a window.
    * Returns (keyCol, centroid, n) where n is the group size.
    */
  def groupCentroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    val dims = df
      .select(col(keyCol), posexplode(col(vecCol)).as(Seq("__i", "__v")))
      .groupBy(col(keyCol), col("__i"))
      .agg(avg(col("__v")).as("__m"), count(lit(1)).as("__n"))
    dims.groupBy(col(keyCol))
      .agg(
        transform(array_sort(collect_list(struct(col("__i"), col("__m")))),
          s => s.getField("__m")).as("centroid"),
        max(col("__n")).as("n"))
  }

  /** Cross-domain similarity matrix: cosine between every pair of
    * group centroids — "is dump B's embedding space the same as dump
    * A's" at a glance (the embedding-level sibling of the trigram
    * crossSourceOverlap). The centroid frame is |groups|-sized, so the
    * self-join broadcasts; output is the strict upper triangle.
    */
  def centroidSimilarity(df: DataFrame, keyCol: String,
      vecCol: String): DataFrame = {
    val c = groupCentroids(df, keyCol, vecCol)
      .select(col(keyCol), col("centroid"),
        normExpr(col("centroid")).as("__n"))
    val a = c.select(col(keyCol).as("key_a"), col("centroid").as("ca"),
      col("__n").as("na"))
    val b = c.select(col(keyCol).as("key_b"), col("centroid").as("cb"),
      col("__n").as("nb"))
    a.join(broadcast(b), col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
        (dotExpr(col("ca"), col("cb")) / (col("na") * col("nb"))).as("cos"))
  }

  /** Per-label embedding outlier flags — the training-data hygiene scan
    * that drops mislabeled / corrupted vectors before contrastive or
    * classifier training: distance of every vector to its LABEL
    * CENTROID, flagged when it exceeds mean + `sigmas`·stddev of its
    * label's distance distribution.
    *
    * Three passes, all shuffle-light at 100 TB: (1) centroids — one
    * (label, dim-index) hash aggregate over the exploded coordinates
    * (|labels|·dim keys, map-side combined) repacked to arrays;
    * (2) distances — centroid frame BROADCAST, per-row left-fold
    * Σ(x_i − c_i)² (the same accumulation order the SQL oracle uses);
    * (3) per-label mean/std — a |labels|-key aggregate joined back
    * broadcast. The flag compares ROUNDED distance against the rounded
    * threshold so a cross-engine ulp can't flip a boundary row.
    * Output: (idCol, labelCol, dist rounded 6, outlier).
    */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, sigmas: Double = 2.0): DataFrame = {
    val x = df.select(col(idCol), col(labelCol),
      posexplode(col(vecCol)).as(Seq("__i", "__e")))
    val centroids = x.groupBy(col(labelCol), col("__i"))
      .agg(avg(col("__e").cast("double")).as("__c"))
      .groupBy(col(labelCol))
      .agg(transform(array_sort(collect_list(struct(col("__i"), col("__c")))),
        s => s.getField("__c")).as("__cv"))
    // persisted: consumed twice (the per-label stats aggregate AND the
    // flag join-back) — without it the centroid join + per-row distance
    // fold would re-run over the whole corpus. Projected to the narrow
    // (id, label, dist) triple BEFORE the persist: both consumers only
    // need those, so the cache never holds the embedding arrays.
    val dists = graft.core.Memos.persist(
      df.join(broadcast(centroids), Seq(labelCol))
        .select(col(idCol), col(labelCol),
          sqrt(aggregate(zip_with(col(vecCol), col("__cv"),
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
            lit(0.0), (acc, v) => acc + v)).as("dist")))
    val stats = dists.groupBy(col(labelCol))
      .agg(avg(col("dist")).as("__mu"), stddev_pop(col("dist")).as("__sd"))
    dists.join(broadcast(stats), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        round(col("dist"), 6).as("dist"),
        (round(col("dist"), 6) >
          round(col("__mu") + lit(sigmas) * col("__sd"), 6)).as("outlier"))
  }
}
