package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memos, QueryPack, Tables}
import graft.decomposition.PCA
import graft.linear.LinearRegression
import graft.modelselection.Splits

/** Oracle-verified queries for the iterative/linalg estimators
  * (SURVEY.md §2.3/§2.4) — the SQL-expressible kernels get an oracle
  * (one Lloyd step from fixed centers; OLS slope/intercept via the
  * closed form; 2-feature PCA eigenvalues in closed form); the
  * end-to-end iterative fits get rows-only checks.
  */
object EstimatorQueries extends QueryPack {

  private val fixedCenters: Array[Array[Double]] = Array(
    Array(10.0, 2000.0), Array(25.0, 35000.0), Array(40.0, 60000.0))

  /** Target language mixture shared by q_mixture_rates/_sample and
    * their oracles. Units are LEARNED BPE subword tokens (what a token
    * budget actually buys — r7 rebase off n_chars); the budget is sized
    * so the sf0.01 corpus yields a non-degenerate rate spread (some
    * languages capped at 1.0, some down-sampled).
    */
  private val mixTargets: Map[String, Double] = Map(
    "en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1)
  private val mixBudget = 42000 // caps de at 1.0 at sf0.01, spreads the rest

  /** Documents with the learned-BPE token count attached (the mixture
    * unit column) — scan-fused expression, table from Bpe's per-dir memo.
    */
  private def docsWithBpe(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("n_bpe",
      graft.llmdata.Bpe.countExpr(col("text"), graft.llmdata.Bpe.trained(s, dir)))

  /** The seeded MLlib k-means|| fit gated by q_kmeans_fit_invariants.
    * The memo holds only the fitted model (k·d center doubles — never
    * data or a DataFrame).
    *
    * Bench rep-spread note (r13 directive #6, measured r14): the
    * first bench rep of both k-means gates is reliably hot and later
    * reps keep improving — q_kmeans_fit 3.93/2.53/2.47/2.36 s,
    * q_kmeans_fit_invariants 9.60/7.56/7.31/6.84 s over 4
    * memo-cleared passes at sf0.1. The shared projection memo IS
    * rebuilt every pass by design (each pass re-pays real fit cost),
    * so the spread is JVM C2 warm-up of the MLlib k-means‖ + codegen
    * paths, which the single q1_agg bench warmup doesn't touch — not
    * rebuilt state, not contention. The min-of-reps estimator absorbs
    * it; the r13 11.9/9.6 uptick was this plus suite-order load.
    */
  private val fitFeatures = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** ONE persisted projection of lineitem shared by BOTH k-means fits
    * (the deterministic Lloyd fit and the seeded MLlib fit) and every
    * invariant pass: 2 key + 3 double columns, so each of the ~40 Lloyd
    * rounds, the k-means|| init passes, and the invariant aggregates
    * read a compact cached frame instead of re-decoding parquet.
    * Projection-only — row order and partitioning match the raw scan,
    * so both fits' trajectories are unchanged.
    */
  private val kmeansFeatures = Memos.memo { (s, dir) =>
    Memos.persist(Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("double").as("l_quantity"),
      col("l_extendedprice").cast("double").as("l_extendedprice"),
      col("l_discount").cast("double").as("l_discount")))
  }

  private val fittedKMeans = Memos.memo { (s, dir) =>
    // r15: fan the single-row-group projection out before the MLlib
    // fit — every k-means|| init pass and Lloyd round ran as ONE task
    // (the r14 FanOut finding; ~30 single-core jobs profiled). The
    // trajectory changes with the partition layout (k-means|| samples
    // per partition), which is exactly what this gate tolerates: its
    // oracle checks seed-independent INVARIANTS (partition counts,
    // the Lloyd fixed point, the single-cluster baseline, inertia
    // consistency), not centers. The EXACT trajectory gate
    // (q_kmeans_fit / fitLloydDeterministic) keeps the raw memo frame
    // — only this seeded fit fans out.
    new KMeans(fitFeatures, nClusters = 4, seed = 42)
      .fit(graft.core.FanOut.byKey(kmeansFeatures(s, dir), "l_orderkey"))
  }

  /** The deterministic Lloyd fit behind the EXACT q_kmeans_fit gate:
    * fit once per dir (the trajectory's step count parameterizes the
    * generated oracle — see [[lloydFitOracle]]). Memo holds init + final
    * centers + sizes, a few dozen doubles.
    */
  private val lloydFit = Memos.memo { (s, dir) =>
    KMeans.fitLloydDeterministic(kmeansFeatures(s, dir),
      Seq("l_quantity", "l_extendedprice"),
      Seq("l_orderkey", "l_linenumber"), k = 3, maxIter = 40)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // One Lloyd iteration from literal centers: the k-means
    // assignment+update kernel (_kmeans_single_lloyd body) — exactly
    // reproducible in SQL.
    "q_kmeans_lloyd_step" -> ((s, dir) =>
      KMeansModel.lloydStep(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice"), fixedCenters)
        .select(col("cluster"), col("n"),
          round(col("c_l_quantity"), 6).as("c_qty"),
          round(col("c_l_extendedprice"), 6).as("c_price"))
        .orderBy("cluster")),

    // TWO chained Lloyd iterations from literal init centers — the
    // k-means convergence loop itself (cluster/k_means.py:595-619),
    // exactly gated: step-1 centers are rounded to 6 dp before feeding
    // step 2 (on both engines), so the handoff is bit-stable and any
    // assignment drift in the loop would flip counts. The 3-row center
    // collect is the same bounded driver fetch every Lloyd round makes.
    "q_kmeans_two_steps" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val feats = Seq("l_quantity", "l_extendedprice")
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val step1 = KMeansModel.lloydStep(li, feats, fixedCenters)
        .orderBy("cluster").collect()
      val centers1 = step1.map(r => Array(
        r6(r.getDouble(r.fieldIndex("c_l_quantity"))),
        r6(r.getDouble(r.fieldIndex("c_l_extendedprice")))))
      KMeansModel.lloydStep(li, feats, centers1)
        .select(col("cluster"), col("n"),
          round(col("c_l_quantity"), 6).as("c_qty"),
          round(col("c_l_extendedprice"), 6).as("c_price"))
        .orderBy("cluster")
    }),

    // Full k-means fit to CONVERGENCE, exactly gated: graft's own Lloyd
    // loop from a deterministic md5-ranked init with 6 dp center
    // handoffs (KMeans.fitLloydDeterministic). The oracle re-runs the
    // ENTIRE trajectory — init sample + every Lloyd round as chained
    // CTEs — so any assignment or update drift at any iteration flips
    // the hash. (The seeded MLlib k-means|| path stays gated by
    // q_kmeans_fit_invariants as the throughput alternative.)
    "q_kmeans_fit" -> ((s, dir) => {
      val f = lloydFit(s, dir)
      import s.implicits._
      f.clusterSizes.indices.map(c => (c, f.clusterSizes(c),
        f.model.clusterCenters(c)(0), f.model.clusterCenters(c)(1),
        f.converged, f.nIter))
        .toDF("cluster", "n", "c_qty", "c_price", "converged", "n_iter")
        .orderBy("cluster")
    }),

    // Invariant gate for the seeded full fit (k_means.py:254-619): the
    // centers are seed-dependent but these properties are not —
    // assignment partition (sizes sum to n, all k clusters non-empty),
    // the Lloyd fixed-point property (one MORE Lloyd step from the
    // converged centers cannot improve inertia beyond tol — strictly
    // stronger than comparing two seeded fits, and one pass instead of
    // a second full fit), beating the single-cluster baseline
    // (n·Σvar_pop), and trainingCost agreeing with an independent
    // expression-based recompute of Σ min_c ‖x−c‖².
    "q_kmeans_fit_invariants" -> ((s, dir) => {
      // fanned out like the fit itself (r15): the invariant aggregates
      // are tolerance-gated (1e-6/1e-2 relative) and n_total is exact,
      // so partition-order fp noise cannot flip a flag
      val li = graft.core.FanOut.byKey(kmeansFeatures(s, dir), "l_orderkey")
      val feats = fitFeatures
      val m = fittedKMeans(s, dir)
      // ONE fused groupBy pass over the shared cached frame computes
      // everything the r5 version spent four passes on: per-cluster
      // sizes, the Lloyd-update (stepped) centers, the inertia
      // recompute (sum of min center distance == distance to the
      // assigned center), and the Σx/Σx² moments behind the
      // single-cluster n·Σvar_pop baseline (combined on the driver
      // from k rows).
      val dists = m.clusterCenters.map(KMeansModel.sqDistExpr(feats, _))
      val per = li
        .withColumn("__c", KMeansModel.assignExpr(feats, m.clusterCenters))
        .withColumn("__d", least(dists.toIndexedSeq: _*))
        .groupBy("__c")
        .agg(count(lit(1)).as("n"),
          (feats.map(c => avg(col(c)).as(s"c_$c")) ++
            feats.map(c => sum(col(c)).as(s"s_$c")) ++
            feats.map(c => sum(col(c) * col(c)).as(s"ss_$c")) :+
            sum(col("__d")).as("sd")): _*)
        .collect()
      def d(r: org.apache.spark.sql.Row, f: String) = r.getDouble(r.fieldIndex(f))
      val nTotal = per.map(r => r.getLong(r.fieldIndex("n"))).sum
      val recomputed = per.map(d(_, "sd")).sum
      val baseline = nTotal.toDouble * feats.map { c =>
        val sx = per.map(d(_, s"s_$c")).sum
        val sxx = per.map(d(_, s"ss_$c")).sum
        sxx / nTotal - (sx / nTotal) * (sx / nTotal) // var_pop from moments
      }.sum
      // one extra assignment+update step from the fitted centers: its
      // centers' inertia must not improve beyond the convergence
      // tolerance regime (Lloyd is monotone, so a large further drop
      // would mean the fit stopped early/wrongly). The stepped centers
      // are the avg columns of the fused pass; their inertia is the
      // one remaining extra aggregate.
      val stepped = per.map(r => feats.map(c => d(r, s"c_$c")).toArray)
      val steppedInertia = -new KMeansModel(feats, stepped, 0.0, 0,
        "p").score(li)
      import s.implicits._
      Seq((nTotal, per.length,
        m.inertia < baseline,
        steppedInertia <= m.inertia * (1 + 1e-12) &&
          steppedInertia >= m.inertia * (1 - 1e-2),
        math.abs(recomputed - m.inertia) <= 1e-6 * math.max(1.0, m.inertia)))
        .toDF("n_total", "n_clusters", "lt_single_cluster", "monotone_iters",
          "inertia_consistent")
    }),

    // OLS via the distributed normal equations; single-feature closed
    // form matches DuckDB's regr_slope/regr_intercept.
    "q_linreg_fit" -> ((s, dir) => {
      val m = new LinearRegression(Seq("l_quantity"), "l_extendedprice")
        .fit(Tables.lineitem(s, dir))
      import s.implicits._
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((r6(m.coef(0)), r6(m.intercept))).toDF("slope", "intercept")
    }),

    // Residuals of the fitted single-feature OLS, per row.
    "q_linreg_predict" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val m = new LinearRegression(Seq("l_quantity"), "l_extendedprice").fit(li)
      m.transform(li).select(col("l_orderkey"), col("l_linenumber"),
        round(col("prediction"), 4).as("prediction"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // 2-feature PCA: eigenvalues of the 2×2 covariance matrix have a
    // closed form — oracle-checkable despite the distributed SVD.
    "q_pca_explained_variance" -> ((s, dir) => {
      val m = new PCA(Seq("l_quantity", "l_discount"), nComponents = 2)
        .fit(Tables.lineitem(s, dir).withColumn("l_discount",
          col("l_discount") * 100)) // comparable scales
      import s.implicits._
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      m.explainedVariance.zipWithIndex.map { case (ev, i) =>
        (i, r6(ev), r6(m.explainedVarianceRatio(i)))
      }.toSeq.toDF("component", "explained_variance", "evr")
        .orderBy("component")
    }),

    // KFold assignment: contiguous folds == ntile over the same order.
    "q_kfold_sizes" -> ((s, dir) => {
      val df = Tables.orders(s, dir).orderBy("o_orderkey")
      Splits.withFold(df.repartition(8), 5, "row_index")
        .groupBy("fold").agg(count(lit(1)).as("n")).orderBy("fold")
        .select(col("n"))
    }),

    // Purged K-fold with embargo (López de Prado 2018 ch.7): the
    // time-series CV manifest — contiguous time-ordered test blocks,
    // train counts after dropping 100 embargo rows each side of the
    // block. One global sort + k-row rollup (Splits.purgedKFoldReport);
    // the oracle mirrors the fold arithmetic via ntile over the same
    // (ts, event_id) total order.
    "q_purged_kfold" -> ((s, dir) =>
      Splits.purgedKFoldReport(Tables.events(s, dir), "ts",
          Seq("ts", "event_id"), k = 5, embargoRows = 100)
        .orderBy("fold")),

    // Precomputed-kernel CV slicing (CVCache pairwise=True,
    // methods.py:118-169): a 120×120 long-form RBF kernel over a
    // deterministic lineitem sample, sliced per fold as
    // K[ix_(train,train)] / K[ix_(test,train)] by kfoldPairwiseCached's
    // range predicates. Output pins slice sizes, an exact integer
    // membership checksum, and the sliced kernel mass.
    "q_cv_pairwise_slice" -> ((s, dir) => {
      val n = 120; val nFolds = 3
      val li = Tables.lineitem(s, dir)
      // tiny-n gate: the window sort is over 120 rows, not a scale path
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("l_orderkey", "l_linenumber")
      val sample = li
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"))
        .orderBy("l_orderkey", "l_linenumber").limit(n)
        .withColumn("idx", row_number().over(w) - 1)
      val a = sample.select(col("idx").as("row_idx"),
        col("l_quantity").as("qa"), col("l_discount").as("da"))
      val b = sample.select(col("idx").as("col_idx"),
        col("l_quantity").as("qb"), col("l_discount").as("db"))
      val kernel = a.crossJoin(b).select(col("row_idx"), col("col_idx"),
        exp(lit(-0.05) * ((col("qa") - col("qb")) * (col("qa") - col("qb"))
          + (col("da") - col("db")) * (col("da") - col("db")))).as("kv"))
      val (slices, cleanup) = Splits.kfoldPairwiseCached(kernel, n, nFolds)
      import s.implicits._
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = slices.zipWithIndex.map { case ((tr, te), f) =>
        val t = tr.agg(count(lit(1)),
          sum(col("row_idx") * 1000 + col("col_idx"))).head()
        val e = te.agg(count(lit(1)),
          sum(col("row_idx") * 1000 + col("col_idx")), sum("kv")).head()
        (f, t.getLong(0), e.getLong(0), t.getLong(1), e.getLong(1),
          r6(e.getDouble(2)))
      }
      cleanup()
      rows.toDF("fold", "n_train", "n_test", "ck_train", "ck_test",
        "sum_test_k").orderBy("fold")
    }),

    // Shuffled KFold: md5-of-key permutation then contiguous balanced
    // folds — the EXACT per-row fold assignment is mirrored in SQL
    // (row_number over the same md5 order + the same ±1 arithmetic).
    "q_kfold_shuffled" -> ((s, dir) => {
      Splits.withShuffledFold(Tables.orders(s, dir), 5, "o_orderkey")
        .select(col("o_orderkey"), col("fold"))
        .orderBy("o_orderkey")
    }),

    // Group-aware fold assignment (GroupKFold contract): every order of
    // a customer lands in one fold — gated per ROW so a single straying
    // order would hash-fail, not just a summary.
    "q_group_split" -> ((s, dir) =>
      Splits.withGroupFold(Tables.orders(s, dir), "o_custkey", k = 5)
        .select(col("o_orderkey"), col("o_custkey"), col("fold"))
        .orderBy("o_orderkey")),

    // Deterministic content-hash sampling: membership is a pure
    // function of the key (md5-bucket < rate·1e6), so the oracle
    // reproduces the EXACT member set — not just sizes. The complement
    // is checked by the disjoint/exhaustive row count.
    "q_hash_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sampled = Splits.hashSample(docs, "doc_id", 0.25)
      val rest = Splits.hashSampleComplement(docs, "doc_id", 0.25)
      sampled.select(col("doc_id"),
        lit(sampled.count() + rest.count()).as("n_total"))
        .orderBy("doc_id")
    }),

    // Per-group (stratified) content-hash sampling: each language gets
    // its own rate cut; membership is a pure function of doc_id, so
    // the oracle reproduces the EXACT member set. One scan-fused
    // map-only filter — sampleBy with reproducibility.
    "q_stratified_sample" -> ((s, dir) =>
      Splits.stratifiedHashSample(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "es" -> 1.0))
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    // Domain-mixture budgeting: per-language BPE-token totals in one
    // aggregation (the count expression fuses into the scan), then the
    // closed-form down-sampling rate min(1, weight·budget/units) that
    // hits the token budget at the target mixture.
    "q_mixture_rates" -> ((s, dir) =>
      Splits.mixtureRates(docsWithBpe(s, dir), "lang", "n_bpe",
        mixTargets, unitBudget = mixBudget)
        .select(col("lang"), col("n_rows"), col("n_units"),
          round(col("target_w"), 6).as("target_w"),
          round(col("rate"), 6).as("rate"))
        .orderBy("lang")),

    // End-to-end mixture sampling: the tiny rates frame broadcast back
    // onto the corpus, rows kept iff hash bucket < floor(rate·1e6) —
    // ONE corpus scan, no corpus shuffle, exact member set.
    "q_mixture_sample" -> ((s, dir) => {
      val docs = docsWithBpe(s, dir)
      val rates = Splits.mixtureRates(docs, "lang", "n_bpe", mixTargets,
        unitBudget = mixBudget)
      Splits.mixtureSample(docs, "doc_id", "lang", rates, salt = "mix")
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),

    // UniMax water-filling (Chung 2304.09151): budget = 1.5× the
    // corpus tokens, epoch cap 2 — low-resource languages cap at two
    // passes, the rest share the remainder equally. The capped/uncapped
    // decision is pure integer arithmetic, mirrored by the oracle's
    // window-closed-form; θ is the only double.
    "q_unimax" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      val total = d.agg(sum("n_toks").cast("long")).head.getLong(0)
      Splits.unimaxAllocation(d, "lang", "n_toks",
          budget = total * 3 / 2, epochs = 2)
        .select(col("lang"), col("n_tokens"), col("cap"),
          round(col("alloc"), 6).as("alloc"),
          round(col("rate"), 6).as("rate"))
        .orderBy("lang")
    }),

    // Temperature-scaled multilingual mixture (Arivazhagan 1907.05019):
    // q_g ∝ p_g^0.3 — one aggregation + 1-row cross join; pow/sum
    // doubles agree across engines to well past the 6-dp gate.
    "q_mixture_temperature" -> ((s, dir) =>
      Splits.temperatureMixtureRates(Tables.documents(s, dir), "lang",
          "n_chars", alpha = 0.3)
        .select(col("lang"), col("n_units"),
          round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
          round(col("boost"), 6).as("boost"))
        .orderBy("lang")),

    // Per-host document cap (RefinedWeb rule): bounded-heap top-k per
    // source — map-side partials carry ≤ cap rows into the shuffle, no
    // group ever sorts its stream (the row_number idiom would). Score
    // is the 52-bit md5 key so the double is integer-exact.
    "q_host_cap" -> ((s, dir) => {
      val sc = conv(substring(md5(concat(lit("cap1"),
        col("doc_id").cast("string"))), 1, 13), 16, 10)
        .cast("long").cast("double")
      Splits.capPerGroup(Tables.documents(s, dir), "source", "doc_id",
          sc, cap = 20)
        .orderBy("source", "rank")
    }),

    // train_test_split: the per-split sizes are seed-dependent, but the
    // PARTITION invariant (train + test == total, no row lost or
    // duplicated) is deterministic — that is what the oracle checks.
    "q_train_test_split" -> ((s, dir) => {
      val (tr, te) = Splits.trainTestSplit(Tables.orders(s, dir), testSize = 0.25)
      import s.implicits._
      Seq(("total", te.count() + tr.count())).toDF("split", "n")
    }),

    // ShuffleSplit: same partition invariant per split.
    "q_shuffle_split" -> ((s, dir) => {
      val splits = Splits.shuffleSplit(Tables.orders(s, dir), nSplits = 3,
        testSize = 0.25, seed = 7)
      import s.implicits._
      splits.zipWithIndex
        .map { case ((tr, te), i) => (i, tr.count() + te.count()) }
        .toDF("split", "n_total").orderBy("split")
    }),

    // IncrementalPCA: treeAggregate CGL moment merge must reproduce the
    // closed-form 2×2 covariance eigenvalues (and match batch PCA).
    "q_incremental_pca" -> ((s, dir) => {
      val m = new graft.decomposition.IncrementalPCA(
        Seq("l_quantity", "l_tax_s"), nComponents = 2)
        .fit(Tables.lineitem(s, dir).withColumn("l_tax_s", col("l_tax") * 100))
      import s.implicits._
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      m.explainedVariance.zipWithIndex.map { case (ev, i) =>
        (i, r6(ev), r6(m.explainedVarianceRatio(i)))
      }.toSeq.toDF("component", "explained_variance", "evr")
        .orderBy("component")
    }),

    // TruncatedSVD: uncentered second-moment eigenvalues, closed form.
    "q_truncated_svd" -> ((s, dir) => {
      val m = new graft.decomposition.TruncatedSVD(
        Seq("l_quantity", "l_disc_s"), nComponents = 2)
        .fit(Tables.lineitem(s, dir).withColumn("l_disc_s", col("l_discount") * 100))
      import s.implicits._
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      m.explainedVariance.zipWithIndex.map { case (ev, i) =>
        (i, r6(ev), r6(m.explainedVarianceRatio(i)))
      }.toSeq.toDF("component", "explained_variance", "evr")
        .orderBy("component")
    }),

    // Whitened PCA projection (pca.py:379-381): per-row pcs divided by
    // √explained_variance. Oracle is fully closed-form — 2×2 covariance
    // eigenpairs ((b, λ−a) eigenvectors, svd_flip sign rule) — so the
    // distributed SVD path is checked end-to-end through the whitening
    // scale. round(·,4) like q_linreg_predict (cross-engine ulp margin).
    "q_pca_whiten" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).withColumn("l_disc_s", col("l_discount") * 100)
      val m = new PCA(Seq("l_quantity", "l_disc_s"), nComponents = 2,
        whiten = true).fit(li)
      m.transform(li).select(col("l_orderkey"), col("l_linenumber"),
        round(col("pc_0"), 4).as("pc_0"), round(col("pc_1"), 4).as("pc_1"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_onehot_encoder" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val m = new graft.preprocessing.OneHotEncoder("l_returnflag", "oh").fit(li)
      m.transform(li).select(col("l_orderkey"), col("l_linenumber"),
        element_at(col("oh"), 1).cast("int").as("oh_a"),
        element_at(col("oh"), 2).cast("int").as("oh_n"),
        element_at(col("oh"), 3).cast("int").as("oh_r"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Generators, EXACT per-row gates: every draw is an md5(seed|tag|
    // row-id|j) stream the DuckDB oracle reproduces bit-for-bit
    // (gaussians via Box-Muller, Poisson via quantized exponential
    // arrivals — see Datasets scaladoc). Rows are ordered by the
    // unrounded x0 (continuous, collision-free) and emitted rounded.
    "q_make_counts" -> ((s, dir) => {
      graft.datasets.Datasets.makeCounts(s, nSamples = 5000, nFeatures = 3,
        seed = 11, nPartitions = 4)
        .orderBy("x0")
        .select((round(col("x0"), 6) + 0.0).as("x0"),
          (round(col("x1"), 6) + 0.0).as("x1"),
          (round(col("x2"), 6) + 0.0).as("x2"),
          col("y"))
    }),

    "q_make_classification_df" -> ((s, dir) => {
      graft.datasets.Datasets.makeClassificationDf(s, nSamples = 5000,
        nFeatures = 3, seed = 11, nPartitions = 4)
        .orderBy("x0")
        .select((round(col("x0"), 6) + 0.0).as("x0"),
          (round(col("x1"), 6) + 0.0).as("x1"),
          (round(col("x2"), 6) + 0.0).as("x2"),
          col("label"), col("date"))
    }),

    // GridSearchCV over ridge lambda with deterministic contiguous
    // 3-folds on the sorted key: every (candidate, fold) fit+score runs
    // through the real search machinery (memoized futures, cached
    // folds, rankdata ties) and the score table has a closed form the
    // oracle reproduces: ridge normal equations per train fold + r2 on
    // the test fold.
    "q_grid_search" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).orderBy("l_orderkey", "l_linenumber")
      val lambdas = Seq(0.0, 1e6, 1e8)
      val search = new graft.modelselection.GridSearchCV[graft.linear.LinearRegressionModel](
        params => {
          val lam = params("lambda").asInstanceOf[Double]
          new graft.linear.LinearRegression(Seq("l_quantity"), "l_extendedprice",
            c = if (lam == 0.0) Double.PositiveInfinity else 1.0 / lam)
        },
        Map("lambda" -> lambdas),
        (m, test) => graft.metrics.Metrics.r2Score(
          m.transform(test), "l_extendedprice", "prediction"),
        cv = 3, parallelism = 9, refit = false)
      val res = search.fit(li)
      import s.implicits._
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      res.cvResults.map(r => (r.params("lambda").asInstanceOf[Double],
          r6(r.meanScore), r.rank))
        .toDF("lambda", "mean_r2", "rank").orderBy("lambda")
    }),

    // StratifiedKFold: per-(fold, label) sizes from the deterministic
    // within-class contiguous assignment.
    "q_stratified_kfold" -> ((s, dir) => {
      graft.modelselection.Splits.withStratifiedFold(
        Tables.orders(s, dir), 4, "o_orderstatus", "o_orderkey")
        .groupBy("fold", "o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("fold", "o_orderstatus")
    }),

    // Categorizer: the learned per-column category sets (the
    // CategoricalDtype analog) as (column_name, idx, category) rows.
    "q_categorizer" -> ((s, dir) => {
      val m = new graft.preprocessing.Categorizer(
        Seq("l_returnflag", "l_linestatus")).fit(Tables.lineitem(s, dir))
      import s.implicits._
      m.cols.flatMap(c => m.categories(c).zipWithIndex.map {
        case (v, i) => (c, i, v)
      }).toDF("column_name", "idx", "category")
        .orderBy("column_name", "idx")
    })
  )

  def oracles: Map[String, String] = Map(
    // md5-stream generator oracles: identical draw formulas, term for
    // term, with literal driver-side weights inlined; all float
    // comparisons quantized to 6 dp (see Datasets scaladoc).
    "q_make_counts" -> {
      import graft.datasets.Datasets
      val w = Datasets.countsWeights(11, 3)
      def g(j: Int) = Datasets.sqlGauss(11, "x", "ids.i", j)
      s"""WITH ids AS (SELECT unnest(range(0, 5000)) AS i),
         |g AS (SELECT ids.i AS i, ${g(0)} AS x0, ${g(1)} AS x1, ${g(2)} AS x2
         |      FROM ids),
         |lam AS (SELECT i, x0, x1, x2,
         |    round(exp(x0 * (${w(0)}) + x1 * (${w(1)}) + x2 * (${w(2)})), 6) AS lam6
         |  FROM g),
         |e AS (SELECT ids.i AS i, pj.j AS j,
         |    -ln(${Datasets.sqlUPos(11, "p", "ids.i", "pj.j")}) AS ej
         |  FROM ids, (SELECT unnest(range(1, ${Datasets.MaxPoissonDraws + 1})) AS j) pj),
         |c AS (SELECT i, j, sum(ej) OVER (PARTITION BY i ORDER BY j) AS cs FROM e),
         |y AS (SELECT c.i, count(*) FILTER (WHERE round(c.cs, 6) <= l.lam6) AS y
         |      FROM c JOIN lam l USING (i) GROUP BY c.i)
         |SELECT round(l.x0, 6) + 0.0 AS x0, round(l.x1, 6) + 0.0 AS x1,
         |  round(l.x2, 6) + 0.0 AS x2, CAST(y.y AS BIGINT) AS y
         |FROM lam l JOIN y USING (i)
         |ORDER BY l.x0""".stripMargin
    },
    "q_make_classification_df" -> {
      import graft.datasets.Datasets
      val w = Datasets.classificationWeights(11, 3)
      def g(j: Int) = Datasets.sqlGauss(11, "x", "ids.i", j)
      val days1 = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse("2020-01-01"),
        java.time.LocalDate.parse("2021-01-01")) + 1
      s"""WITH ids AS (SELECT unnest(range(0, 5000)) AS i),
         |g AS (SELECT ids.i AS i, ${g(0)} AS x0, ${g(1)} AS x1, ${g(2)} AS x2
         |      FROM ids),
         |m AS (SELECT i, x0, x1, x2,
         |    CASE WHEN x0 * (${w(0)}) + x1 * (${w(1)}) + x2 * (${w(2)}) > 0
         |      THEN 1.0 ELSE 0.0 END AS l0 FROM g)
         |SELECT round(x0, 6) + 0.0 AS x0, round(x1, 6) + 0.0 AS x1,
         |  round(x2, 6) + 0.0 AS x2,
         |  CASE WHEN ${Datasets.sqlU(11, "f", "m.i", "0")} < 0.01
         |    THEN 1.0 - l0 ELSE l0 END AS label,
         |  DATE '2020-01-01'
         |    + CAST(floor(${Datasets.sqlU(11, "d", "m.i", "0")} * $days1) AS INT) AS "date"
         |FROM m
         |ORDER BY m.x0""".stripMargin
    },
    "q_kfold_shuffled" ->
      """WITH r AS (SELECT o_orderkey,
        |    row_number() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR))) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM orders),
        |p AS (SELECT o_orderkey, idx, n, n // 5 AS base, n % 5 AS extra
        |      FROM r)
        |SELECT o_orderkey,
        | CAST(CASE WHEN idx < extra * (base + 1) THEN idx // (base + 1)
        |      ELSE (idx - extra * (base + 1)) // base + extra END AS INT) AS fold
        |FROM p ORDER BY o_orderkey""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |       % 1000000)
        |  < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
        |              WHEN 'fr' THEN 100000 WHEN 'es' THEN 1000000
        |              ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    // (q_mixture_rates / q_mixture_sample oracles are GENERATED — the
    // BPE merge table behind the unit counts embeds as literal VALUES:
    // see bpeMixtureOracle.)
    // temperature mixture: pow arithmetic replicated operand-for-
    // operand; boost derives from the UNROUNDED p and q as in Spark.
    "q_mixture_temperature" ->
      """WITH c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_units
        |           FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_units) AS BIGINT) AS N,
        |        sum(pow(CAST(n_units AS DOUBLE), CAST(0.3 AS DOUBLE))) AS Z
        |      FROM c)
        |SELECT lang, n_units,
        |  round(CAST(n_units AS DOUBLE) / CAST(N AS DOUBLE), 6) AS p,
        |  round(pow(CAST(n_units AS DOUBLE), CAST(0.3 AS DOUBLE)) / Z, 6)
        |    AS q,
        |  round((pow(CAST(n_units AS DOUBLE), CAST(0.3 AS DOUBLE)) / Z)
        |    / (CAST(n_units AS DOUBLE) / CAST(N AS DOUBLE)), 6) AS boost
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,
    // host cap: row_number replay of the bounded heap's (score desc,
    // id asc) total order on the 52-bit integer-exact key.
    "q_host_cap" ->
      """WITH sc AS (SELECT source, doc_id,
        |    ('0x' || substr(md5('cap1' || CAST(doc_id AS VARCHAR)), 1, 13))
        |      ::BIGINT AS h
        |  FROM documents),
        |r AS (SELECT source, doc_id, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h DESC, doc_id)
        |      AS rank
        |  FROM sc)
        |SELECT source, rank, doc_id, CAST(h AS DOUBLE) AS score
        |FROM r WHERE rank <= 20 ORDER BY source, rank""".stripMargin,
    // UniMax water-fill, closed form: group i (cap-ascending rank rk)
    // is capped ⟺ cap·(nl−rk+1) ≤ T − cum_prev — all BIGINT; θ is the
    // single double. T = 3·total//2, epochs = 2.
    "q_unimax" ->
      """WITH tc AS (SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) * 3 // 2 AS t,
        |               count(*) AS nl FROM tc),
        |s AS (SELECT lang, n, n * 2 AS cap,
        |        row_number() OVER (ORDER BY n, lang) AS rk,
        |        CAST(sum(n * 2) OVER (ORDER BY n, lang
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM tc),
        |f AS (SELECT s.lang, s.n, s.cap, s.rk, s.cum, tot.t, tot.nl,
        |        (cap * (nl - rk + 1) <= t - (cum - cap)) AS capped
        |      FROM s CROSS JOIN tot),
        |th AS (SELECT coalesce(
        |         CAST(t - CAST(coalesce(sum(CASE WHEN capped THEN cap END),
        |           0) AS BIGINT) AS DOUBLE)
        |         / NULLIF(nl - count(CASE WHEN capped THEN 1 END), 0),
        |         CAST(0 AS DOUBLE)) AS theta
        |       FROM f GROUP BY t, nl)
        |SELECT lang, n AS n_tokens, cap,
        |  round(CASE WHEN capped THEN CAST(cap AS DOUBLE) ELSE theta END,
        |    6) AS alloc,
        |  round(CASE WHEN capped THEN CAST(cap AS DOUBLE) ELSE theta END
        |    / CAST(n AS DOUBLE), 6) AS rate
        |FROM f CROSS JOIN th ORDER BY lang""".stripMargin,
    "q_group_split" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST((('0x' || substr(md5('gkf' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
        |    % 5) AS INT) AS fold
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_hash_sample" ->
      """SELECT doc_id,
        | (SELECT count(*) FROM documents) AS n_total
        |FROM documents
        |WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |       % 1000000) < 250000
        |ORDER BY doc_id""".stripMargin,
    // n=120, k=3 → fold f is exactly [40f, 40f+40); HUGEINT sums cast
    // back to BIGINT to match Spark's long render.
    "q_cv_pairwise_slice" ->
      """WITH s AS (SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx,
        |    l_quantity AS q, l_discount AS d
        |  FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 120),
        |kern AS (SELECT a.idx AS r, b.idx AS c,
        |    exp(-0.05 * ((a.q-b.q)*(a.q-b.q) + (a.d-b.d)*(a.d-b.d))) AS kv
        |  FROM s a, s b),
        |sl AS (SELECT fold, r, c, kv,
        |    (r >= fold*40 AND r < fold*40+40) AS rin,
        |    (c >= fold*40 AND c < fold*40+40) AS cin
        |  FROM kern, (SELECT unnest(range(0, 3)) AS fold) ff)
        |SELECT CAST(fold AS INT) AS fold,
        | count(*) FILTER (WHERE NOT rin AND NOT cin) AS n_train,
        | count(*) FILTER (WHERE rin AND NOT cin) AS n_test,
        | CAST(sum(CASE WHEN NOT rin AND NOT cin THEN r*1000 + c END) AS BIGINT) AS ck_train,
        | CAST(sum(CASE WHEN rin AND NOT cin THEN r*1000 + c END) AS BIGINT) AS ck_test,
        | round(sum(CASE WHEN rin AND NOT cin THEN kv END), 6) AS sum_test_k
        |FROM sl GROUP BY fold ORDER BY fold""".stripMargin,
    "q_kmeans_fit_invariants" ->
      """SELECT count(*) AS n_total, CAST(4 AS INT) AS n_clusters,
        | TRUE AS lt_single_cluster, TRUE AS monotone_iters,
        | TRUE AS inertia_consistent
        |FROM lineitem""".stripMargin,
    "q_kmeans_lloyd_step" -> {
      def dist(c: Array[Double]) =
        s"(l_quantity-(${c(0)}))*(l_quantity-(${c(0)})) + (l_extendedprice-(${c(1)}))*(l_extendedprice-(${c(1)}))"
      val d0 = dist(fixedCenters(0)); val d1 = dist(fixedCenters(1)); val d2 = dist(fixedCenters(2))
      s"""SELECT CASE WHEN $d0 <= $d1 AND $d0 <= $d2 THEN 0
         |            WHEN $d1 <= $d2 THEN 1 ELSE 2 END AS cluster,
         | count(*) AS n,
         | round(avg(l_quantity), 6) AS c_qty,
         | round(avg(l_extendedprice), 6) AS c_price
         |FROM lineitem GROUP BY 1 ORDER BY cluster""".stripMargin
    },
    "q_kmeans_two_steps" -> {
      def dist(c: Array[Double]) =
        s"(l_quantity-(${c(0)}))*(l_quantity-(${c(0)})) + (l_extendedprice-(${c(1)}))*(l_extendedprice-(${c(1)}))"
      val d0 = dist(fixedCenters(0)); val d1 = dist(fixedCenters(1)); val d2 = dist(fixedCenters(2))
      s"""WITH a1 AS (SELECT l_quantity, l_extendedprice,
         |  CASE WHEN $d0 <= $d1 AND $d0 <= $d2 THEN 0
         |       WHEN $d1 <= $d2 THEN 1 ELSE 2 END AS c FROM lineitem),
         |c1 AS (SELECT c, round(avg(l_quantity), 6) AS q,
         |         round(avg(l_extendedprice), 6) AS p FROM a1 GROUP BY c),
         |cc AS (SELECT
         |  max(CASE WHEN c=0 THEN q END) AS q0, max(CASE WHEN c=0 THEN p END) AS p0,
         |  max(CASE WHEN c=1 THEN q END) AS q1, max(CASE WHEN c=1 THEN p END) AS p1,
         |  max(CASE WHEN c=2 THEN q END) AS q2, max(CASE WHEN c=2 THEN p END) AS p2
         | FROM c1),
         |a2 AS (SELECT l_quantity, l_extendedprice,
         |  CASE WHEN (l_quantity-q0)*(l_quantity-q0) + (l_extendedprice-p0)*(l_extendedprice-p0)
         |         <= (l_quantity-q1)*(l_quantity-q1) + (l_extendedprice-p1)*(l_extendedprice-p1)
         |        AND (l_quantity-q0)*(l_quantity-q0) + (l_extendedprice-p0)*(l_extendedprice-p0)
         |         <= (l_quantity-q2)*(l_quantity-q2) + (l_extendedprice-p2)*(l_extendedprice-p2) THEN 0
         |       WHEN (l_quantity-q1)*(l_quantity-q1) + (l_extendedprice-p1)*(l_extendedprice-p1)
         |         <= (l_quantity-q2)*(l_quantity-q2) + (l_extendedprice-p2)*(l_extendedprice-p2) THEN 1
         |       ELSE 2 END AS cluster
         | FROM lineitem, cc)
         |SELECT cluster, count(*) AS n,
         | round(avg(l_quantity), 6) AS c_qty,
         | round(avg(l_extendedprice), 6) AS c_price
         |FROM a2 GROUP BY 1 ORDER BY cluster""".stripMargin
    },
    "q_linreg_fit" ->
      """SELECT round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept
        |FROM lineitem""".stripMargin,
    "q_linreg_predict" ->
      """WITH f AS (SELECT regr_slope(l_extendedprice, l_quantity) AS b,
        |  regr_intercept(l_extendedprice, l_quantity) AS a FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        | round(a + b * l_quantity, 4) AS prediction
        |FROM lineitem, f ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_pca_explained_variance" ->
      """WITH c AS (SELECT var_pop(l_quantity) AS a,
        |  covar_pop(l_quantity, l_discount*100) AS b,
        |  var_pop(l_discount*100) AS d FROM lineitem),
        |e AS (SELECT (a+d)/2 + sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l1,
        |        (a+d)/2 - sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l2, a+d AS tot FROM c)
        |SELECT 0 AS component, round(l1, 6) AS explained_variance,
        |  round(l1/tot, 6) AS evr FROM e
        |UNION ALL
        |SELECT 1, round(l2, 6), round(l2/tot, 6) FROM e
        |ORDER BY component""".stripMargin,
    "q_kfold_sizes" ->
      """WITH t AS (SELECT ntile(5) OVER (ORDER BY o_orderkey) AS f FROM orders)
        |SELECT count(*) AS n FROM t GROUP BY f ORDER BY f""".stripMargin,
    "q_purged_kfold" ->
      """WITH o AS (SELECT ts,
        |    ntile(5) OVER (ORDER BY ts, event_id) - 1 AS fold,
        |    row_number() OVER (ORDER BY ts, event_id) - 1 AS idx
        |  FROM events),
        |n AS (SELECT count(*) AS n FROM events),
        |per AS (SELECT fold, count(*) AS n_test, min(idx) AS s,
        |    max(idx) AS e, min(ts) AS mnt, max(ts) AS mxt
        |  FROM o GROUP BY fold)
        |SELECT CAST(fold AS INTEGER) AS fold,
        |  CAST(n_test AS BIGINT) AS n_test,
        |  CAST(n - n_test - least(100, s) - least(100, n - (e + 1))
        |    AS BIGINT) AS n_train,
        |  CAST(least(100, s) + least(100, n - (e + 1)) AS BIGINT)
        |    AS n_purged,
        |  epoch_us(mnt) AS min_ts_us, epoch_us(mxt) AS max_ts_us
        |FROM per CROSS JOIN n ORDER BY fold""".stripMargin,
    "q_train_test_split" ->
      "SELECT 'total' AS split, count(*) AS n FROM orders",
    "q_shuffle_split" ->
      """SELECT 0 AS split, count(*) AS n_total FROM orders
        |UNION ALL SELECT 1, count(*) FROM orders
        |UNION ALL SELECT 2, count(*) FROM orders
        |ORDER BY split""".stripMargin,
    "q_incremental_pca" ->
      """WITH c AS (SELECT var_pop(l_quantity) AS a,
        |  covar_pop(l_quantity, l_tax*100) AS b,
        |  var_pop(l_tax*100) AS d FROM lineitem),
        |e AS (SELECT (a+d)/2 + sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l1,
        |        (a+d)/2 - sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l2, a+d AS tot FROM c)
        |SELECT 0 AS component, round(l1, 6) AS explained_variance,
        |  round(l1/tot, 6) AS evr FROM e
        |UNION ALL
        |SELECT 1, round(l2, 6), round(l2/tot, 6) FROM e
        |ORDER BY component""".stripMargin,
    "q_truncated_svd" ->
      """WITH c AS (SELECT avg(l_quantity*l_quantity) AS a,
        |  avg(l_quantity*(l_discount*100)) AS b,
        |  avg((l_discount*100)*(l_discount*100)) AS d FROM lineitem),
        |e AS (SELECT (a+d)/2 + sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l1,
        |        (a+d)/2 - sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l2, a+d AS tot FROM c)
        |SELECT 0 AS component, round(l1, 6) AS explained_variance,
        |  round(l1/tot, 6) AS evr FROM e
        |UNION ALL
        |SELECT 1, round(l2, 6), round(l2/tot, 6) FROM e
        |ORDER BY component""".stripMargin,
    "q_pca_whiten" ->
      """WITH c AS (SELECT var_pop(l_quantity) AS a,
        |  covar_pop(l_quantity, l_discount*100) AS b,
        |  var_pop(l_discount*100) AS d,
        |  avg(l_quantity) AS mx, avg(l_discount*100) AS my FROM lineitem),
        |e AS (SELECT *,
        |  (a+d)/2 + sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l1,
        |  (a+d)/2 - sqrt(((a-d)/2)*((a-d)/2) + b*b) AS l2 FROM c),
        |v AS (SELECT *,
        |  b / sqrt(b*b + (l1-a)*(l1-a)) AS u1x,
        |  (l1-a) / sqrt(b*b + (l1-a)*(l1-a)) AS u1y,
        |  b / sqrt(b*b + (l2-a)*(l2-a)) AS u2x,
        |  (l2-a) / sqrt(b*b + (l2-a)*(l2-a)) AS u2y FROM e),
        |w AS (SELECT *,
        |  CASE WHEN (CASE WHEN abs(u1x) >= abs(u1y) THEN u1x ELSE u1y END) < 0
        |       THEN -1.0 ELSE 1.0 END AS s1,
        |  CASE WHEN (CASE WHEN abs(u2x) >= abs(u2y) THEN u2x ELSE u2y END) < 0
        |       THEN -1.0 ELSE 1.0 END AS s2 FROM v)
        |SELECT l_orderkey, l_linenumber,
        |  round(s1 * ((l_quantity-mx)*u1x + (l_discount*100-my)*u1y)
        |        / sqrt(l1), 4) AS pc_0,
        |  round(s2 * ((l_quantity-mx)*u2x + (l_discount*100-my)*u2y)
        |        / sqrt(l2), 4) AS pc_1
        |FROM lineitem, w ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_onehot_encoder" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(l_returnflag = 'A' AS INT) AS oh_a,
        | CAST(l_returnflag = 'N' AS INT) AS oh_n,
        | CAST(l_returnflag = 'R' AS INT) AS oh_r
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_grid_search" ->
      """WITH idx AS (SELECT l_quantity AS x, l_extendedprice AS y,
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS i,
        |    count(*) OVER () AS n FROM lineitem),
        |fo AS (SELECT x, y,
        |    CASE WHEN i < (n % 3) * (n // 3 + 1) THEN i // (n // 3 + 1)
        |         ELSE (i - (n % 3) * (n // 3 + 1)) // (n // 3) + (n % 3)
        |    END AS fold FROM idx),
        |tot AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy FROM fo),
        |pf AS (SELECT fold, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
        |  FROM fo GROUP BY fold),
        |tr AS (SELECT p.fold, t.n - p.n AS n, t.sx - p.sx AS sx,
        |    t.sy - p.sy AS sy, t.sxx - p.sxx AS sxx, t.sxy - p.sxy AS sxy
        |  FROM pf p, tot t),
        |lam AS (SELECT unnest([0.0, 1000000.0, 100000000.0]) AS lambda),
        |co AS (SELECT tr.fold, lam.lambda,
        |    (tr.n * tr.sxy - tr.sx * tr.sy)
        |      / ((tr.sxx + lam.lambda) * tr.n - tr.sx * tr.sx) AS b,
        |    ((tr.sxx + lam.lambda) * tr.sy - tr.sx * tr.sxy)
        |      / ((tr.sxx + lam.lambda) * tr.n - tr.sx * tr.sx) AS a
        |  FROM tr, lam),
        |r2 AS (SELECT co.lambda, co.fold,
        |    1.0 - (p.syy - 2*co.a*p.sy - 2*co.b*p.sxy + 2*co.a*co.b*p.sx
        |           + co.a*co.a*p.n + co.b*co.b*p.sxx)
        |        / (p.syy - p.sy*p.sy/p.n) AS r2
        |  FROM co JOIN pf p ON p.fold = co.fold),
        |m AS (SELECT lambda,
        |    (max(CASE WHEN fold=0 THEN r2 END)
        |     + max(CASE WHEN fold=1 THEN r2 END)
        |     + max(CASE WHEN fold=2 THEN r2 END)) / 3 AS mean_r2
        |  FROM r2 GROUP BY lambda)
        |SELECT lambda, round(mean_r2, 6) AS mean_r2,
        |  CAST(1 + (SELECT count(*) FROM m m2 WHERE m2.mean_r2 > m.mean_r2)
        |    AS INT) AS rank
        |FROM m ORDER BY lambda""".stripMargin,
    "q_stratified_kfold" ->
      """WITH t AS (SELECT o_orderstatus AS st,
        |   row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) - 1 AS pos,
        |   count(*) OVER (PARTITION BY o_orderstatus) AS nc
        | FROM orders)
        |SELECT CASE WHEN pos < (nc % 4) * (nc // 4 + 1)
        |         THEN CAST(pos // (nc // 4 + 1) AS INT)
        |         ELSE CAST((pos - (nc % 4) * (nc // 4 + 1)) // (nc // 4)
        |           + (nc % 4) AS INT) END AS fold,
        | st AS o_orderstatus, count(*) AS n
        |FROM t GROUP BY 1, 2 ORDER BY fold, o_orderstatus""".stripMargin,
    "q_categorizer" ->
      """SELECT * FROM (
        |  SELECT 'l_returnflag' AS column_name,
        |    CAST(row_number() OVER (ORDER BY v) - 1 AS INT) AS idx, v AS category
        |  FROM (SELECT DISTINCT l_returnflag AS v FROM lineitem)
        |  UNION ALL
        |  SELECT 'l_linestatus',
        |    CAST(row_number() OVER (ORDER BY v) - 1 AS INT), v
        |  FROM (SELECT DISTINCT l_linestatus AS v FROM lineitem)
        |) ORDER BY column_name, idx""".stripMargin
  ) ++ lloydFitOracle ++ bpeMixtureOracle

  /** EXACT oracles for the BPE-unit mixture gates (trainedBpeOracle
    * pattern, see LlmDataQueries): the learned merge table embeds as
    * VALUES and the `nb` CTE reproduces every document's subword count;
    * the rate arithmetic mirrors Splits.mixtureRates with explicit
    * DOUBLE casts everywhere — DuckDB parses bare 0.4 as DECIMAL, whose
    * arithmetic would diverge from Spark's IEEE doubles.
    */
  private def bpeMixtureOracle: Map[String, String] =
    graft.llmdata.Bpe.trained.values match {
      case merges :: Nil =>
        val cte = graft.llmdata.Bpe.bpeCteSql(merges)
        Map(
          "q_mixture_rates" ->
            s"""WITH RECURSIVE $cte,
               |g AS (SELECT d.lang, count(*) AS n_rows,
               |        CAST(sum(nb.n_bpe) AS BIGINT) AS n_units
               |      FROM documents d JOIN nb USING (doc_id) GROUP BY 1),
               |r AS (SELECT lang, n_rows, n_units,
               |        CAST(CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4
               |             WHEN 'es' THEN 0.1 WHEN 'fr' THEN 0.2 WHEN 'zh' THEN 0.1
               |             ELSE 0.0 END AS DOUBLE) AS tw
               |      FROM g)
               |SELECT lang, n_rows, n_units, round(tw, 6) AS target_w,
               | round(least(CAST(1.0 AS DOUBLE),
               |   tw * CAST($mixBudget AS DOUBLE) / CAST(n_units AS DOUBLE)), 6) AS rate
               |FROM r ORDER BY lang""".stripMargin,
          "q_mixture_sample" ->
            s"""WITH RECURSIVE $cte,
               |g AS (SELECT d.lang, CAST(sum(nb.n_bpe) AS BIGINT) AS n_units
               |      FROM documents d JOIN nb USING (doc_id) GROUP BY 1),
               |r AS (SELECT lang, least(CAST(1.0 AS DOUBLE),
               |        CAST(CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4
               |             WHEN 'es' THEN 0.1 WHEN 'fr' THEN 0.2 WHEN 'zh' THEN 0.1
               |             ELSE 0.0 END AS DOUBLE)
               |          * CAST($mixBudget AS DOUBLE) / CAST(n_units AS DOUBLE)) AS rate
               |      FROM g)
               |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
               |WHERE (('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
               |       % 1000000)
               |  < floor(rate * CAST(1000000 AS DOUBLE))
               |ORDER BY d.doc_id""".stripMargin)
      case _ => Map.empty
    }

  /** EXACT oracle for q_kmeans_fit: regenerates the WHOLE deterministic
    * Lloyd fit in SQL — the md5-ranked init sample (recomputed from the
    * data, not embedded as literals) and every Lloyd round as a chained
    * (assign → aggregate → pivot) CTE triple with the same 6 dp center
    * quantization at each handoff. Only the step count S comes from the
    * JVM trajectory (it is structural — the number of generated CTEs);
    * if DuckDB's trajectory diverged from Spark's at ANY round, the
    * step-S centers/sizes would differ and the hash would fail. The
    * convergence flag is genuinely recomputed in SQL (step-S centers ==
    * step-(S−1) centers). Emitted only when the memo holds exactly one
    * dir — Verify runs queries before dumping oracle SQL (the
    * trainedIvfOracle pattern); otherwise the driver falls back to a
    * rows-only check.
    */
  private def lloydFitOracle: Map[String, String] = {
    lloydFit.values match {
      case f :: Nil => Map("q_kmeans_fit" -> lloydFitOracleSql(f.nIter))
      case _ => Map.empty
    }
  }

  private def lloydFitOracleSql(steps: Int): String = {
    require(steps >= 2, s"trajectory too short to gate: $steps")
    def dist(j: Int) =
      s"(l_quantity-q$j)*(l_quantity-q$j) + (l_extendedprice-p$j)*(l_extendedprice-p$j)"
    // pivot 3 (c, q, p) rows into one (q0,p0,..,q2,p2) row; `off` maps
    // center j to the source's id (rn is 1-based, cluster c 0-based)
    def pivot(src: String, cCol: String, qCol: String, pCol: String, off: Int) =
      (0 until 3).map(j =>
        s"max(CASE WHEN $cCol=${j + off} THEN $qCol END) AS q$j, " +
          s"max(CASE WHEN $cCol=${j + off} THEN $pCol END) AS p$j")
        .mkString("SELECT ", ", ", s" FROM $src")
    // AS MATERIALIZED is load-bearing: with DuckDB's default CTE
    // inlining, ~37 chained (scan → agg → pivot → cross join) rounds in
    // one query tree send the optimizer into minutes of planning;
    // materializing each round keeps planning and execution linear in
    // the step count (~2 s total at sf0.01).
    val sb = new StringBuilder
    sb.append(
      """WITH h AS MATERIALIZED (SELECT l_quantity, l_extendedprice,
        |  row_number() OVER (ORDER BY
        |    md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR))) AS rn
        | FROM lineitem),
        |cc0 AS MATERIALIZED (""".stripMargin)
    sb.append(pivot("h WHERE rn <= 3", "rn", "l_quantity", "l_extendedprice", 1))
    sb.append(")")
    for (t <- 1 to steps) {
      val d0 = dist(0); val d1 = dist(1); val d2 = dist(2)
      sb.append(s""",
        |a$t AS MATERIALIZED (SELECT l_quantity, l_extendedprice,
        |  CASE WHEN $d0 <= $d1 AND $d0 <= $d2 THEN 0
        |       WHEN $d1 <= $d2 THEN 1 ELSE 2 END AS c
        | FROM lineitem, cc${t - 1}),
        |c$t AS MATERIALIZED (SELECT c, count(*) AS n, round(avg(l_quantity), 6) AS q,
        |          round(avg(l_extendedprice), 6) AS p FROM a$t GROUP BY c),
        |cc$t AS MATERIALIZED (""".stripMargin)
      sb.append(pivot(s"c$t", "c", "q", "p", 0))
      sb.append(")")
    }
    sb.append(s"""
      |SELECT CAST(f.c AS INT) AS cluster, f.n, f.q AS c_qty, f.p AS c_price,
      | (s.q0=r.q0 AND s.p0=r.p0 AND s.q1=r.q1 AND s.p1=r.p1
      |  AND s.q2=r.q2 AND s.p2=r.p2) AS converged,
      | CAST($steps AS INT) AS n_iter
      |FROM c$steps f, cc$steps s, cc${steps - 1} r
      |ORDER BY cluster""".stripMargin)
    sb.toString
  }
}
