package graft.modelselection

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Split/sampling operators (ref: dask_ml/model_selection/_split.py).
  *
  * Scale notes: `randomSplit` is per-partition Bernoulli — identical to
  * the reference's blockwise split (its only supported mode for arrays,
  * _split.py:319-358) and shuffle-free at any scale. KFold's global row
  * index is built from per-partition counts (one tiny count job) +
  * partition-local offsets — no global sort, no single-partition window.
  */
object Splits {

  /** Global 0-based contiguous row index without a total-order shuffle:
    * count rows per partition, broadcast cumulative offsets, add
    * partition-local position. (The DataFrame zipWithIndex idiom.)
    */
  def withRowIndex(df: DataFrame, indexCol: String = "row_index"): DataFrame =
    indexAndCount(df, indexCol)._1

  /** The indexed frame plus the total count — the count comes free from
    * the per-partition counts job, so callers needing both (withFold)
    * scan the source once for them instead of twice.
    */
  private def indexAndCount(df: DataFrame, indexCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    // the idiom runs TWO jobs over the same partitions (counts, then
    // index). For a raw scan, re-reading is cheaper than caching; but if
    // the plan contains a shuffle-producing operator (join/agg/window/
    // repartition), persist so (a) the expensive upstream computes once
    // and (b) both jobs see identical partition contents even when the
    // upstream ordering is nondeterministic. The cached RDD is released
    // by Spark's ContextCleaner once unreferenced.
    val shuffled = df.queryExecution.optimizedPlan.collectFirst {
      case p if Seq("Join", "Aggregate", "Window", "Repartition", "Sort")
        .exists(p.nodeName.contains) => p
    }.isDefined
    val rdd =
      if (shuffled) df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df.rdd
    val counts = rdd.mapPartitionsWithIndex { case (i, it) =>
      Iterator((i, it.size))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val indexed = rdd.mapPartitionsWithIndex { case (i, it) =>
      var k = offsets(i)
      it.map { r => val out = Row.fromSeq(r.toSeq :+ k); k += 1; out }
    }
    (spark.createDataFrame(indexed,
      StructType(df.schema.fields :+ StructField(indexCol, LongType, nullable = false))),
      offsets.last)
  }

  /** Ref: dask_ml.model_selection.train_test_split (_split.py:361-520).
    * Per-partition Bernoulli split, fraction-only sizes (the reference
    * rejects absolute counts too, _split.py:33-66).
    *
    * @param shuffle the reference's dask≥2.13 DataFrame knob
    *   (_split.py:458-488): `false` — the reference's DataFrame default
    *   — keeps input row order and assigns membership by a per-row
    *   seeded draw (order-preserving, exactly Spark's `randomSplit`
    *   contract); `true` additionally PERMUTES rows before splitting
    *   (within-block in dask; a rand-keyed global sort here — cheap in
    *   Spark where dask warns it is expensive).
    * @param blockwise reference Array-path knob: `true` (default)
    *   shuffles within partitions only; `false` permits cross-block
    *   movement — with `shuffle=true` Spark's rand-keyed sort is global
    *   anyway, so both values produce a global permutation and the knob
    *   only gates the reference's call-site compatibility (dask raises
    *   for DataFrames; we accept both).
    * @param convertMixedTypes accepted for call-site compatibility with
    *   the reference signature (_split.py:368, 400-404); Spark frames
    *   are uniformly typed — there is no DataFrame/Array mixture to
    *   convert, so the flag is a no-op rather than an error.
    */
  def trainTestSplit(df: DataFrame, testSize: Double = 0.1,
      trainSize: Option[Double] = None, seed: Long = 42,
      shuffle: Boolean = false, blockwise: Boolean = true,
      convertMixedTypes: Boolean = false): (DataFrame, DataFrame) = {
    val train = trainSize.getOrElse(1.0 - testSize)
    require(testSize > 0 && train > 0 && testSize + train <= 1.0 + 1e-9,
      s"invalid sizes: test=$testSize train=$train")
    val _ = (blockwise, convertMixedTypes) // surface-parity knobs (see doc)
    val base = if (shuffle) df.orderBy(rand(seed ^ 0x5f5f5f5fL)) else df
    val parts = base.randomSplit(Array(train, testSize), seed)
    (parts(0), parts(1))
  }

  /** Ref: ShuffleSplit (_split.py:92-200): n_splits independent
    * (train, test) pairs; `blockwise=true` = per-partition Bernoulli
    * (reference default), false = global shuffle first (cheap in Spark,
    * "much more expensive" in dask per _split.py:124-127).
    */
  def shuffleSplit(df: DataFrame, nSplits: Int = 10, testSize: Double = 0.1,
      seed: Long = 42, blockwise: Boolean = true): Seq[(DataFrame, DataFrame)] = {
    val base = if (blockwise) df else df.orderBy(rand(seed))
    (0 until nSplits).map { i =>
      val r = rand(seed + i)
      val marked = base.withColumn("__is_test", r < testSize)
      (marked.filter(!col("__is_test")).drop("__is_test"),
        marked.filter(col("__is_test")).drop("__is_test"))
    }
  }

  /** Ref: KFold (_split.py:211-316): contiguous folds by global row
    * ranges. Returns the df with a fold column; use [[kfold]] for the
    * (train, test) pairs.
    */
  def withFold(df: DataFrame, k: Int, indexCol: String = "row_index"): DataFrame = {
    // one source scan supplies both the index and the count
    val (indexed, n) =
      if (df.columns.contains(indexCol)) (df, df.count())
      else indexAndCount(df, indexCol)
    require(n >= k, s"need at least k=$k rows, got $n")
    // contiguous fold ranges like sklearn: first n % k folds get one extra
    val base = n / k; val extra = n % k
    // fold f covers [f*base + min(f, extra), ...) — invert per row with
    // integer division (`div`; true `/` would be double division)
    val boundary = extra * (base + 1)
    val fold = when(col(indexCol) < boundary,
        expr(s"$indexCol div ${base + 1}").cast("int"))
      .otherwise(expr(s"($indexCol - $boundary) div $base").cast("int") + extra.toInt)
    indexed.withColumn("fold", fold)
  }

  /** Group-aware fold assignment (sklearn GroupKFold's contract — "the
    * same group will not appear in two different folds" — via the
    * hash-partition form that scales): fold = md5-hash(group) mod k, a
    * pure map over the rows. No group ever straddles folds, fold sizes
    * are hash-balanced in GROUP mass (not exactly equal like sklearn's
    * greedy bin-pack, which needs a global per-group-size sort — a
    * driver bottleneck at 10⁹ groups), and the assignment is stable
    * under corpus growth: adding documents never moves an existing
    * group's fold, which is the property an incremental 100 TB
    * pipeline actually needs from a grouped split.
    */
  def withGroupFold(df: DataFrame, groupCol: String, k: Int,
      salt: String = "gkf"): DataFrame = {
    require(k >= 2, s"need k >= 2 folds, got $k")
    df.withColumn("fold",
      graft.core.Hashing.bucket(col(groupCol), salt, k.toLong).cast("int"))
  }

  def kfold(df: DataFrame, k: Int): Seq[(DataFrame, DataFrame)] = {
    val folded = withFold(df, k)
    (0 until k).map { f =>
      (folded.filter(col("fold") =!= f).drop("fold", "row_index"),
        folded.filter(col("fold") === f).drop("fold", "row_index"))
    }
  }

  /** KFold(shuffle=True) semantics (ref _split.py KFold with
    * random_state): permute, then contiguous balanced folds. The
    * permutation is the md5 order of a key column — deterministic
    * without an RNG, identical on any engine (so it stays exactly
    * oracle-able), and salted for independent redraws. The sort is a
    * parallel range-partition sort, then the same ±1-balanced fold
    * arithmetic as [[withFold]].
    */
  def withShuffledFold(df: DataFrame, k: Int, keyCol: String,
      salt: String = ""): DataFrame =
    withFold(df.orderBy(md5(concat(lit(salt), col(keyCol).cast("string")))), k)

  /** Purged K-fold with embargo (López de Prado, "Advances in
    * Financial Machine Learning", 2018, ch. 7) — the time-series CV
    * that actually guards leakage: test folds are CONTIGUOUS blocks of
    * the time-ordered corpus, and each fold's train set additionally
    * drops `embargoRows` rows on each side of the test block, so
    * temporally-overlapping information (labels computed over windows,
    * serial correlation) cannot bleed across the boundary.
    *
    * Report form — (fold, n_test, n_train, n_purged, min_ts_us,
    * max_ts_us): the fold manifest a pipeline materializes before
    * training. One global (parallel range-partition) sort + the
    * ±1-balanced contiguous fold arithmetic of [[withFold]], then a
    * k-row rollup; the train/purge counts are integer arithmetic over
    * each fold's [min, max] index span against the broadcast 1-row
    * total — nothing corpus-sized moves after the fold assignment.
    *
    * @param orderCols total order (include a unique tie-break column —
    *   timestamps alone are rarely unique)
    */
  def purgedKFoldReport(df: DataFrame, tsCol: String,
      orderCols: Seq[String], k: Int, embargoRows: Long): DataFrame = {
    require(embargoRows >= 0, s"embargoRows must be >= 0, got $embargoRows")
    val folded = withFold(df.orderBy(orderCols.map(col): _*), k)
    val per = folded.groupBy("fold").agg(
      count(lit(1)).as("n_test"),
      min(col("row_index")).as("__s"), max(col("row_index")).as("__e"),
      unix_micros(min(col(tsCol))).as("min_ts_us"),
      unix_micros(max(col(tsCol))).as("max_ts_us"))
    val tot = per.agg(sum("n_test").as("__n"))
    val pb = least(lit(embargoRows), col("__s"))
    val pa = least(lit(embargoRows), col("__n") - (col("__e") + 1))
    per.crossJoin(broadcast(tot))
      .select(col("fold"), col("n_test"),
        (col("__n") - col("n_test") - pb - pa).as("n_train"),
        (pb + pa).as("n_purged"),
        col("min_ts_us"), col("max_ts_us"))
  }

  def kfoldShuffled(df: DataFrame, k: Int, keyCol: String,
      salt: String = ""): Seq[(DataFrame, DataFrame)] = {
    val folded = withShuffledFold(df, k, keyCol, salt)
    (0 until k).map { f =>
      (folded.filter(col("fold") =!= f).drop("fold", "row_index"),
        folded.filter(col("fold") === f).drop("fold", "row_index"))
    }
  }

  /** kfold over a CACHED fold assignment (the cache_cv analog): the
    * folded frame is persisted and materialized once, every derived
    * train/test filter scans the cache, and the returned cleanup
    * unpersists it — callers (the CV searches) own the lifetime, so
    * nothing leaks across repeated searches.
    */
  def kfoldCached(df: DataFrame, k: Int): (Seq[(DataFrame, DataFrame)], () => Unit) = {
    val folded = withFold(df, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    folded.count() // materialize before fan-out
    val folds = (0 until k).map { f =>
      (folded.filter(col("fold") =!= f).drop("fold", "row_index"),
        folded.filter(col("fold") === f).drop("fold", "row_index"))
    }
    (folds, () => { folded.unpersist(blocking = false); () })
  }

  /** Deterministic content-hash sampling: keep a row iff
    * md5(key) mod 1e6 < rate·1e6. Unlike seeded Bernoulli
    * (`randomSplit`), membership is a pure function of the KEY — stable
    * across runs, partitionings, cluster sizes, and even engines (the
    * hash is the md5-hex→BIGINT construction the oracles mirror), so a
    * document keeps landing in the same split as the corpus grows: the
    * property training pipelines need for leak-free held-out sets.
    * Map-only; the predicate fuses into the scan.
    */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
      salt: String = ""): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.filter(hashBucket(col(keyCol), salt) < rateBuckets(rate))
  }

  /** Complement of [[hashSample]] under the same key+salt — disjoint and
    * exhaustive by construction (train/holdout pairing).
    */
  def hashSampleComplement(df: DataFrame, keyCol: String, rate: Double,
      salt: String = ""): DataFrame =
    df.filter(hashBucket(col(keyCol), salt) >= rateBuckets(rate))

  /** The [[hashSample]] membership as a labeling column instead of a
    * filter — one scan assigns every row its split ('train' below the
    * rate cut, 'holdout' above), with the same key-determinism contract.
    */
  def hashSplitLabel(key: org.apache.spark.sql.Column, rate: Double,
      salt: String = ""): org.apache.spark.sql.Column =
    when(hashBucket(key, salt) < rateBuckets(rate), "train")
      .otherwise("holdout")

  /** Per-group deterministic content-hash sampling: keep a row iff its
    * key's md5 bucket falls below its GROUP's rate cut — `sampleBy`
    * with exact reproducibility (membership is a pure function of
    * key+salt, independent of partitioning/order; same contract as
    * [[hashSample]]). The fraction map compiles to a literal CASE
    * chain, so the filter is scan-fused and shuffle-free — at 100 TB
    * this is one map-only pass with parquet-pushable group pruning for
    * groups at fraction 0.
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, groupCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      salt: String = ""): DataFrame = {
    (fractions.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fractions must be in [0,1], got $f"))
    val cut = fractions.toSeq.sortBy(_._1).foldLeft(
      lit(rateBuckets(defaultFraction))) { case (acc, (g, f)) =>
      when(col(groupCol) === g, lit(rateBuckets(f))).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), salt) < cut)
  }

  /** Domain-mixture sampling rates: one aggregation computes each
    * group's total size (rows + `sizeCol` units, e.g. tokens or
    * chars), then `rate(g) = min(1, weight(g)·budget / units(g))` — the
    * closed-form down-sampling rate that hits a target mixture over a
    * global unit budget (groups whose target exceeds their data are
    * kept whole at rate 1; re-normalize upstream if strict proportions
    * are required). Output: (group, n_rows, n_units, target_w, rate).
    * One shuffle over ≤ |groups| keys; the result is tiny by
    * construction (broadcast it into [[mixtureSample]]).
    */
  def mixtureRates(df: DataFrame, groupCol: String, sizeCol: String,
      targets: Map[String, Double], unitBudget: Long): DataFrame = {
    require(targets.values.forall(w => w >= 0.0), "weights must be >= 0")
    val w = targets.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (g, t)) => when(col(groupCol) === g, lit(t)).otherwise(acc)
    }
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), sum(col(sizeCol)).as("n_units"))
      .withColumn("target_w", w)
      .withColumn("rate",
        least(lit(1.0),
          col("target_w") * lit(unitBudget.toDouble) / col("n_units")))
  }

  /** Temperature-scaled mixture rates (Arivazhagan et al.,
    * arXiv:1907.05019 §4; the mT5/XLM-R multilingual recipe): sampling
    * probability q_g ∝ p_g^alpha with p_g the group's natural share —
    * alpha < 1 up-weights low-resource groups, alpha = 1 is natural,
    * alpha → 0 is uniform. Output per group: n_units, p (natural
    * share), q (temperature share), boost = q/p (the rate multiplier
    * to feed a sampler).
    *
    * Same plan shape as [[mixtureRates]]: ONE aggregation to ≤|groups|
    * rows, the normalizer folded back via a 1-row cross join — nothing
    * corpus-sized moves twice, and the output broadcasts into
    * [[mixtureSample]].
    */
  def temperatureMixtureRates(df: DataFrame, groupCol: String,
      sizeCol: String, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0,1], got $alpha")
    val counts = df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol)).cast("long").as("n_units"))
    val tot = counts.agg(sum(col("n_units")).cast("long").as("__N"),
      sum(pow(col("n_units").cast("double"), alpha)).as("__Z"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", col("n_units").cast("double") / col("__N").cast("double"))
      .withColumn("q",
        pow(col("n_units").cast("double"), alpha) / col("__Z"))
      .select(col(groupCol), col("n_units"), col("p"), col("q"),
        (col("q") / col("p")).as("boost"))
  }

  /** Per-group document cap — the RefinedWeb/C4 "no single host
    * dominates" rule (cap documents per domain, keep the best-scoring
    * ones). The row_number-per-group idiom ships EVERY row of a group
    * to one task and sorts it there — a hot host with 10⁸ documents is
    * a straggler by construction. This uses the bounded-heap top-k
    * aggregate ([[graft.functions.TopKByScore]]) instead: map-side
    * partials carry ≤ cap rows per group into the shuffle, the merge
    * is O(cap·log cap), and no group ever sorts its full stream.
    * Ties break by ascending id (a total order — deterministic under
    * any partitioning). Output: (group, rank, id, score), rank 1-based
    * best-first.
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
      score: org.apache.spark.sql.Column, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    df.groupBy(col(groupCol))
      .agg(graft.functions.TopKByScore(score, col(idCol), cap).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__r", "__kv")))
      .select(col(groupCol), (col("__r") + 1).as("rank"),
        col("__kv.id").as(idCol), col("__kv.score").as("score"))
  }

  /** End-to-end mixture sampling: broadcast the [[mixtureRates]] frame
    * back onto the corpus and keep each row iff its key bucket falls
    * below `floor(rate·1e6)` (floor on BOTH engines — the in-plan rate
    * is a computed double, and floor of the identical IEEE value is
    * engine-independent where half-way rounding is not). Map-side
    * broadcast join + fused filter: ONE corpus scan, no corpus shuffle.
    */
  def mixtureSample(df: DataFrame, keyCol: String, groupCol: String,
      rates: DataFrame, salt: String = ""): DataFrame = {
    val r = broadcast(rates.select(col(groupCol), col("rate")))
    df.join(r, Seq(groupCol))
      .filter(hashBucket(col(keyCol), salt) < floor(col("rate") * lit(1000000.0)))
      .drop("rate")
  }

  /** UniMax per-language budget allocation (Chung et al.,
    * arXiv:2304.09151): distribute a token budget across groups as
    * uniformly as possible subject to a per-group repetition cap of
    * `epochs`·n_g tokens — water-filling. Low-resource groups are
    * capped at `epochs` passes over their data; the rest share the
    * remaining budget equally (θ each).
    *
    * Group token counts are ONE tiny aggregation (≤ |groups| rows,
    * collected bounded like any trained summary); the fill runs on the
    * driver in INTEGER arithmetic, as the paper's Algorithm 1 does:
    * walking cap-ascending (0-based), group i is capped while
    * cap_i·(L−i) ≤ T − S_{i−1}, S the caps applied so far; the first
    * miss ends the capping and every later group is uncapped. The
    * SQL mirror takes the same prefix of its closed-form predicate,
    * so both engines decide bit-identically. θ = (T−S_k)/(L−k) is the
    * only double.
    *
    * Returns (group, n_tokens, cap, alloc, rate); rate = alloc/n may
    * exceed 1 — that is the point (repetition up to `epochs`).
    */
  def unimaxAllocation(df: DataFrame, groupCol: String, sizeCol: String,
      budget: Long, epochs: Int = 2): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(epochs > 0, s"epochs must be positive, got $epochs")
    val counts = df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol)).cast("long").as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (g, n) => (n, g) }
    require(counts.length <= 100000,
      s"unimax: ${counts.length} groups exceed the driver bound")
    val L = counts.length
    var (s, k) = (0L, 0)
    while (k < L && counts(k)._2 * epochs * (L - k).toLong <= budget - s) {
      s += counts(k)._2 * epochs; k += 1
    }
    val theta = if (k == L) 0.0 else (budget - s).toDouble / (L - k)
    val spark = df.sparkSession
    import spark.implicits._
    counts.zipWithIndex.map { case ((g, n), i) =>
      val cap = n * epochs
      val alloc = if (i < k) cap.toDouble else theta
      (g, n, cap, alloc, alloc / n)
    }.toSeq.toDF(groupCol, "n_tokens", "cap", "alloc", "rate")
  }

  /** Weighted k-sample WITHOUT replacement (Efraimidis & Spirakis,
    * IPL 97(5) 2006, algorithm A-ES): each row draws u ∈ (0,1) and the
    * k rows with the largest u^(1/w) win — the selection distribution
    * is exactly weighted-sequential-sampling. We rank on the
    * equivalent log-space key ln(u)/w (monotone in u^(1/w), no
    * underflow for tiny weights) and the uniform is CONTENT-HASHED,
    * not seeded: u = (v + 0.5) / 2^60 with v the row key's md5-60-bit
    * value — the same determinism contract as [[hashSample]], so
    * membership is a pure function of (key, salt) that any engine
    * reproduces.
    *
    * Plan shape: map-only key computation fused into the scan, then
    * TakeOrderedAndProject (per-partition bounded heap + size-k driver
    * merge) — no global sort, no shuffle of the corpus; at 100 TB each
    * task ships exactly k candidate rows. Rank on the ROUNDED key with
    * ascending-id tiebreak (the repo's cross-engine ordering
    * convention: ulp-level ln/pow differences cannot flip an order the
    * oracle resolves identically).
    *
    * Output: (id, weight, key) for the k winners. Weights must be
    * strictly positive — clamp upstream (e.g. `greatest(w, 1)`); a
    * zero/negative weight would make ln(u)/w flip sign and win every
    * draw.
    */
  def weightedHashSample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // first 15 md5 hex chars = 60 bits, already < 2^60: no mod needed
    val v = conv(substring(md5(concat(lit(salt),
        col(keyCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val u = (v.cast("double") + lit(0.5)) / lit(1152921504606846976.0)
    df.withColumn("__aes_key",
        round(log(u) / col(weightCol).cast("double"), 6))
      .orderBy(col("__aes_key").desc, col(keyCol))
      .limit(k)
      .select(col(keyCol), col(weightCol), col("__aes_key").as("aes_key"))
  }

  /** Neyman-optimal stratified allocation (Neyman 1934; Cochran's
    * classic survey-sampling design): sample-size share n_h ∝ N_h·σ_h
    * — strata that are bigger OR more variable get proportionally
    * more of the budget, which minimizes the variance of the
    * stratified mean at fixed total k. Integerized by
    * largest-remainder rounding so Σ n_h = k exactly (ties on the
    * remainder break by stratum name); an allocation is capped at its
    * stratum's row count (no redistribution — a saturated stratum
    * leaves the total short, as in the textbook treatment).
    *
    * One tiny per-stratum aggregate (count + stddev_pop rounded to 6
    * at the handoff — the cross-engine determinism convention), then
    * arithmetic over |strata| rows; the only Window is the
    * largest-remainder rank over that tiny frame. Zero-variance
    * corpora (ΣN_h·σ_h = 0) fall back to proportional allocation.
    *
    * Output: (stratum, n_rows, sd, n_alloc).
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val strata = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_rows"),
        round(coalesce(stddev_pop(col(valueCol).cast("double")), lit(0.0)), 6)
          .as("sd"))
      .withColumn("__wt", col("n_rows").cast("double") * col("sd"))
    val tot = strata.agg(round(sum(col("__wt")), 6).as("__Wtot"),
      sum(col("n_rows")).as("__N"))
    val e = strata.crossJoin(broadcast(tot))
      .withColumn("__e", when(col("__Wtot") > 0,
          lit(k.toDouble) * col("__wt") / col("__Wtot"))
        .otherwise(lit(k.toDouble) * col("n_rows").cast("double") /
          col("__N").cast("double")))
      .withColumn("__base", floor(col("__e")).cast("long"))
      .withColumn("__rem", col("__e") - col("__base"))
    // Σbase and the remainder rank both as windows over the SAME tiny
    // |strata|-row frame (a second aggregate would self-join e with
    // its own lineage and trip ambiguous-reference analysis)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col(stratumCol))
    e.withColumn("__SB", sum(col("__base")).over(wAll))
      .withColumn("__rk", row_number().over(w))
      .select(col(stratumCol), col("n_rows"), col("sd"),
        least(col("__base") +
          when(col("__rk") <= lit(k.toLong) - col("__SB"), 1L).otherwise(0L),
          col("n_rows")).as("n_alloc"))
  }

  /** Draw the [[neymanAllocation]] sample deterministically: rank each
    * stratum's rows by a content hash (h60 mod 10^12 — exact in a
    * double; ties by ascending id) and keep its top n_alloc. Ranking
    * rides [[capPerGroup]]'s bounded-heap top-k — map-side partials
    * carry ≤ max(n_alloc) rows per stratum into the shuffle, no
    * stratum ever sorts its full stream (the host-cap scale shape,
    * NOT a row_number window). The allocation frame is |strata| rows,
    * broadcast; only its max is collected (one bounded value, to size
    * the heap).
    *
    * Output: (stratum, rank, id) — rank 1-based within stratum.
    */
  def neymanSample(df: DataFrame, stratumCol: String, idCol: String,
      valueCol: String, k: Int, salt: String = "neyman"): DataFrame = {
    // persisted: consumed by the bounded capMax collect AND the lazy
    // broadcast join — without it the corpus-sized stratum aggregate
    // would run twice.
    val alloc = graft.core.Memos.persist(
      neymanAllocation(df, stratumCol, valueCol, k))
    neymanSampleFrom(df, stratumCol, idCol, alloc, salt)
  }

  /** The draw against a PRECOMPUTED (persisted) allocation frame —
    * split out so fit-once/gate-twice callers can share one allocation
    * between the allocation report and the sample.
    */
  def neymanSampleFrom(df: DataFrame, stratumCol: String, idCol: String,
      alloc: DataFrame, salt: String = "neyman"): DataFrame = {
    // max() of an empty allocation frame is null — an empty input
    // yields an empty sample, not an NPE
    val capMax = Option(alloc.agg(max(col("n_alloc")).as("m"))
      .collect()(0).get(0)).map(_.asInstanceOf[Long].toInt).getOrElse(0)
    val score = pmod(graft.core.Hashing.h60(col(idCol), salt),
      lit(1000000000000L)).cast("double")
    capPerGroup(df, stratumCol, idCol, score, math.max(capMax, 1))
      .join(broadcast(alloc.select(col(stratumCol), col("n_alloc"))),
        Seq(stratumCol))
      .filter(col("rank") <= col("n_alloc"))
      .select(col(stratumCol), col("rank"), col(idCol))
  }

  /** Deterministic epoch shuffle — the training-side global reshuffle
    * WITHOUT a sort: doc → (epoch, shard, pos) as a pure scan-fused
    * projection (the manifests→trainer handoff: every epoch's read
    * order is fixed at plan time, reproducible from (salt, epoch)
    * alone, and costs zero shuffles to compute).
    *
    * A 4-round balanced Feistel network over the 60-bit id domain
    * makes `pos = perm_epoch(id)` a TRUE BIJECTION on [0, 2^60) — not
    * merely collision-unlikely like a raw hash: the round function
    * (the house md5-60-bit integer hash of "salt:epoch:round:half",
    * masked to 30 bits) can be arbitrary, the Feistel structure is
    * what guarantees invertibility. So distinct docs can never collide
    * on (epoch, shard, pos). `shard = perm mod nShards` balances
    * because the permutation output is uniform over the domain; `pos`
    * orders rows WITHIN a shard — a trainer streams shard files and
    * sorts each locally by pos (bounded per shard, never a corpus
    * sort). Per-epoch round keys differ, so epoch orders decorrelate.
    *
    * Entirely md5 + integer arithmetic ⇒ engine-independent (the
    * DuckDB oracle replays it exactly). Contract: ids must lie in
    * [0, 2^60) — bits above 60 are discarded by the halving and would
    * break injectivity.
    *
    * Output: input row × epochs, with (epoch, shard, pos) appended.
    */
  def epochShuffle(df: DataFrame, idCol: String, epochs: Int,
      nShards: Int, salt: String = "es"): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val mask30 = (1L << 30) - 1
    def f30(half: Column, epoch: Column, round: Int): Column =
      conv(substring(md5(concat_ws(":", lit(salt), epoch.cast("string"),
        lit(round.toString), half.cast("string"))), 1, 15), 16, 10)
        .cast("long").bitwiseAND(lit(mask30))
    val withEpoch = df.withColumn("epoch",
      explode(sequence(lit(0), lit(epochs - 1))))
    val id = col(idCol).cast("long")
    var l: Column = shiftright(id, 30).bitwiseAND(lit(mask30))
    var r: Column = id.bitwiseAND(lit(mask30))
    for (round <- 0 until 4) {
      val t = r
      r = l.bitwiseXOR(f30(r, col("epoch"), round))
      l = t
    }
    val perm = shiftleft(l, 30).bitwiseOR(r)
    withEpoch
      .withColumn("shard", pmod(perm, lit(nShards.toLong)).cast("int"))
      .withColumn("pos", perm)
  }

  /** round, not truncate: 0.29·1e6 is 289999.99999999994 in binary —
    * truncation would put bucket 289999 on the wrong side of the
    * documented `bucket < rate·1e6` contract.
    */
  private def rateBuckets(rate: Double): Long = math.round(rate * 1000000)

  /** md5-derived bucket in [0, 1e6): first 15 hex chars as a 60-bit
    * value, mod 1e6 — engine-independent and uniform.
    */
  private def hashBucket(key: org.apache.spark.sql.Column, salt: String) =
    pmod(conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(1000000L))

  /** Contiguous-KFold range of fold `f` over n rows: [start, end).
    * Mirrors [[withFold]]'s arithmetic (first n % k folds one larger).
    */
  def foldRange(n: Long, k: Int, f: Int): (Long, Long) = {
    val base = n / k; val extra = n % k
    val start = f * base + math.min(f, extra)
    (start, start + base + (if (f < extra) 1 else 0))
  }

  /** Precomputed-kernel CV slicing — the CVCache `pairwise=True` path
    * (ref: methods.py:118-169 `_extract_pairwise`,
    * `X[np.ix_(train|test, train)]`): for estimators taking a
    * precomputed n×n kernel/affinity matrix, fold f's TRAIN view keeps
    * kernel entries whose row AND column are train samples, and its
    * TEST view keeps test rows against TRAIN columns.
    *
    * Spark shape: the kernel is LONG-FORM (rowIdx, colIdx, value) with
    * 0-based contiguous sample indices, and KFold folds are contiguous
    * ranges — so each slice is a pure RANGE PREDICATE on the two index
    * columns: map-only, no join, pushed down to the scan. The kernel
    * frame is persisted once (the cache_cv analog) and the returned
    * cleanup releases it.
    */
  def kfoldPairwiseCached(kernel: DataFrame, n: Long, k: Int,
      rowCol: String = "row_idx", colCol: String = "col_idx")
      : (Seq[(DataFrame, DataFrame)], () => Unit) = {
    require(n >= k, s"need at least k=$k samples, got $n")
    val cached = kernel
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count() // materialize before fan-out
    val slices = (0 until k).map { f =>
      val (s, e) = foldRange(n, k, f)
      def inFold(c: String) = col(c) >= s && col(c) < e
      (cached.filter(!inFold(rowCol) && !inFold(colCol)),
        cached.filter(inFold(rowCol) && !inFold(colCol)))
    }
    (slices, () => { cached.unpersist(blocking = false); () })
  }

  /** Stratified k-fold (sklearn StratifiedKFold semantics per class):
    * within each label, rows ordered by `orderCol` split into k
    * contiguous groups, first n_c % k folds one row larger.
    *
    * Scale shape: a `Window.partitionBy(label)` would sort EVERY row of
    * a class on one task — with few classes over 100 TB, a single-task
    * multi-terabyte sort. Instead: range-partition on `orderCol` and
    * sort within partitions (a parallel global sort), count per
    * (partition, label) in one tiny job, broadcast the cumulative
    * per-label offsets, and assign within-class positions + folds
    * partition-locally. Same positions as the window form (given a
    * tie-free `orderCol`), so the fold assignment stays
    * oracle-expressible, but no label ever co-locates.
    */
  def withStratifiedFold(df: DataFrame, k: Int, labelCol: String,
      orderCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
    val rdd = sorted.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labelOf = (r: Row) => r.getAs[Any](labelCol)
    val perPart: Array[Map[Any, Long]] = rdd.mapPartitionsWithIndex { (i, it) =>
      val m = scala.collection.mutable.HashMap.empty[Any, Long]
      it.foreach { r => val l = labelOf(r); m.update(l, m.getOrElse(l, 0L) + 1L) }
      Iterator((i, m.toMap))
    }.collect().sortBy(_._1).map(_._2)
    val totals = perPart.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val offsets = perPart.scanLeft(Map.empty[Any, Long]) { (acc, m) =>
      (acc.keySet ++ m.keySet).iterator
        .map(l => l -> (acc.getOrElse(l, 0L) + m.getOrElse(l, 0L))).toMap
    }
    val kk = k
    val bc = spark.sparkContext.broadcast((totals, offsets))
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val (tot, offs) = bc.value
      val local = scala.collection.mutable.HashMap.empty[Any, Long]
      it.map { r =>
        val l = labelOf(r)
        val p = offs(i).getOrElse(l, 0L) + local.getOrElse(l, 0L)
        local.update(l, local.getOrElse(l, 0L) + 1L)
        val nC = tot(l)
        val base = nC / kk; val extra = nC % kk
        val boundary = extra * (base + 1)
        val fold =
          if (p < boundary) (p / (base + 1)).toInt
          else ((p - boundary) / base).toInt + extra.toInt
        Row.fromSeq(r.toSeq :+ fold)
      }
    }
    spark.createDataFrame(out, StructType(df.schema.fields :+
      StructField("fold", org.apache.spark.sql.types.IntegerType, nullable = false)))
  }

  def stratifiedKFold(df: DataFrame, k: Int, labelCol: String,
      orderCol: String): Seq[(DataFrame, DataFrame)] = {
    val folded = withStratifiedFold(df, k, labelCol, orderCol)
    (0 until k).map { f =>
      (folded.filter(col("fold") =!= f).drop("fold"),
        folded.filter(col("fold") === f).drop("fold"))
    }
  }

  /** Stratified sampling by label column (check_cv's stratified arm,
    * _search.py:963-1019) — per-label Bernoulli via sampleBy.
    */
  def stratifiedSample(df: DataFrame, labelCol: String, fraction: Double,
      seed: Long = 42): DataFrame = {
    // driver-size guard: stratification needs the label set on the
    // driver; fail fast on a continuous/high-cardinality column instead
    // of collecting it (same pattern as GaussianNB's class guard). The
    // cheap approx_count_distinct pre-check (one sketch aggregate, no
    // shuffle of distinct values) catches the failure case BEFORE the
    // exact distinct scan — on a 100 TB corpus the old guard paid a
    // full distinct shuffle just to throw. 2% HLL error stays far from
    // the 10000 cut via the 12000 margin.
    val approx = df.agg(approx_count_distinct(col(labelCol)).as("n"))
      .head().getLong(0)
    require(approx <= 12000,
      s"$labelCol has ~$approx distinct values; stratified sampling needs a categorical label")
    val labels = df.select(labelCol).distinct().limit(10001).collect().map(_.get(0))
    require(labels.length <= 10000,
      s"$labelCol has >10000 distinct values; stratified sampling needs a categorical label")
    df.stat.sampleBy(labelCol, labels.map(_ -> fraction).toMap, seed)
  }
}

/** Ref: check_cv / compute_n_splits (_search.py:963-1019, _split.py):
  * coerce what a user passes as `cv` into a splitter strategy.
  */
sealed trait CVStrategy {
  def nSplits: Int
  def split(df: DataFrame): Seq[(DataFrame, DataFrame)]
}

final case class KFoldCV(k: Int) extends CVStrategy {
  def nSplits: Int = k
  def split(df: DataFrame): Seq[(DataFrame, DataFrame)] = Splits.kfold(df, k)
}

final case class ShuffleSplitCV(n: Int, testSize: Double = 0.1,
    seed: Long = 42) extends CVStrategy {
  def nSplits: Int = n
  def split(df: DataFrame): Seq[(DataFrame, DataFrame)] =
    Splits.shuffleSplit(df, n, testSize, seed)
}

final case class StratifiedKFoldCV(k: Int, labelCol: String,
    orderCol: String) extends CVStrategy {
  def nSplits: Int = k
  def split(df: DataFrame): Seq[(DataFrame, DataFrame)] =
    Splits.stratifiedKFold(df, k, labelCol, orderCol)
}

object CV {
  /** _search.py:963-987: None → 5-fold; an int → KFold(n); a strategy
    * passes through.
    */
  def checkCv(cv: Any): CVStrategy = cv match {
    case null => KFoldCV(5)
    case i: Int => require(i >= 2, s"cv must be >= 2, got $i"); KFoldCV(i)
    case s: CVStrategy => s
    case other => throw new IllegalArgumentException(
      s"cannot interpret $other as a CV strategy")
  }

  /** _search.py:990-1019: split count without materializing splits. */
  def computeNSplits(cv: Any): Int = checkCv(cv).nSplits
}
