package graft

/** Empirical scaling-exponent harness: generates deterministic corpora
  * at 1×/4×/16× of sf0.1 row counts ([[graft.datasets.ScaleData]] —
  * pure xxhash64 projections under /tmp, the driver testdata is never
  * touched), times a representative set of the most expensive gates at
  * each size with the Bench methodology (noop sink, warmup,
  * memo-cleared passes, min-of-reps — min because a scaling FIT wants
  * the contention-free floor, not the load median), and fits the
  * log-log slope  t ∝ size^β  per query. β ≈ 1 is the linear-scan
  * ideal; β > 1.3 names a super-linear term that needs a documented
  * reason (fixed-block quadratic probes, convergence-round growth).
  * Writes SCALING.json.
  *
  * Known super-linear terms, asserted by the artifact rather than
  * hidden (the `notes` field names each): q_resample_ffill's output
  * grid is users × hourly span and BOTH grow ∝ factor in this corpus
  * family (users 2000f, fixed event cadence → span ∝ f — the driver
  * testdata's own model), so the operator — linear in its OUTPUT —
  * pays ∝ f² rows. The round-8 super-linear entries (q_fuzzy_join
  * 1.571, q_record_linkage 1.124 on fixed-cardinality blocking keys)
  * are RETIRED: both gates now generate candidates through
  * EntityResolution.blockingUnion — a union of fine blocking rules
  * (deletion neighborhood / content prefix+suffix) whose block sizes
  * are bounded by match-cluster size instead of growing with the
  * corpus — and run uncapped to 16×.
  */
object Scaling {

  /** dev knobs: SPARK_GRAFT_SCALE_FACTORS=1,4 SPARK_GRAFT_SCALE_ONLY=q_a,q_b */
  private val factors = sys.env.get("SPARK_GRAFT_SCALE_FACTORS")
    .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16))

  /** (query, maxFactor) — every gate currently runs to 16×; the cap
    * slot stays so a future super-linear gate can bound its harness
    * cost (the retired round-8 convention for the fixed-block joins).
    */
  private val targets: Seq[(String, Int)] = Seq(
    "q_dedup_containment" -> 16,
    "q_dedup_minhash_default" -> 16,
    "q_dedup_jaccard" -> 16,
    "q_dedup_substr" -> 16,
    "q_cc_largestar" -> 16,
    "q_source_overlap" -> 16,
    "q_langid_trained" -> 16,
    "q_llm_pipeline_v3" -> 16,
    "q_lm_perplexity" -> 16,
    "q_distinct_ngrams" -> 16,
    "q_winnowing" -> 16,
    "q_resample_ffill" -> 16,
    "q_kmeans_fit" -> 16,
    "q_robust_stats" -> 16,
    "q_pagerank" -> 16,
    "q_ann_topk" -> 16,
    "q_epoch_shuffle" -> 16,
    "q_triangle_count" -> 16,
    "q_zorder_layout" -> 16,
    "q_neyman_sample" -> 16,
    "q_shard_write_roundtrip" -> 16,
    "q_blocking_quality" -> 16,
    "q_fuzzy_join" -> 16, // union-of-rules blocking (round 9) — uncapped
    "q_record_linkage" -> 16, // union-of-rules blocking (round 9) — uncapped
    "q_coreness" -> 16,   // h-index rounds: edge-sized joins + windows
    "q_bitext_mine_lsh" -> 4, // fixed 4-plane buckets: see notes
    "q_event_transitions" -> 16, // per-user lag + states² rollup
    "q_kaplan_meier" -> 16, // per-user rollup + tiny-frame windows
    // round-9 third-session gates. NOTE: the committed SCALING.json
    // predates these nine targets — the third session's host measured
    // 50x above the artifact's quiet floors on identical gates
    // (q_distinct_ngrams x1 24s vs the committed 0.397s floor), so a
    // floor run there would have poisoned the artifact; the next quiet
    // run picks these up automatically.
    "q_jaro_winkler" -> 16, // bounded digit-prefix blocks: linear candidates
    "q_gbt_cells" -> 16, // one corpus pass + cell-frame boosting rounds
    "q_grid_dbscan" -> 16, // one cell groupBy + cell-graph CC
    "q_adamic_adar" -> 16, // fixed 300-vec kNN slice: scan growth only
    "q_isotonic_calibration" -> 16, // two corpus aggregates + B³ tiny rows
    "q_assoc_rules" -> 16, // within-basket pair join, basket-size bounded
    "q_mnb_predict" -> 16, // one exploded fit pass + scan-fused scoring
    "q_learning_curve" -> 16, // the whole curve = one moment aggregate
    "q_mmr_select" -> 16, // corpus top-30 scan + bounded greedy steps
    // round-10 targets: the rest of the graph family (all riding the
    // shared symmetrized-edge memo) — the r9 verdict flagged their
    // 100 TB story as design-argued, not measured
    "q_label_prop" -> 16, // 5 rounds: edge join + (node,label) rollup
    "q_hits" -> 16, // 10 rounds: two edge joins + broadcast L1 norms
    "q_modularity" -> 16, // shares LPA labels memo + 3 aggregates
    "q_louvain_refine" -> 16, // one edge join + node-sized argmax
    "q_ppr_push" -> 16, // frontier-bounded rounds on the trade graph
    "q_seed_distance" -> 16, // BFS rounds: edge join vs reached frontier
    "q_trend_robust" -> 16, // corpus aggregate + |days|^2 tiny-pair join
    // round-11 targets
    "q_louvain_full" -> 16, // sweeps: edge join + node argmax; level 2+
                            // community-sized; early stop at fixpoint
    "q_quantile_sketch" -> 16, // one pass, mergeable bounded sketch state
    "q_knn_graph" -> 16, // LSH-bucketed candidates + bounded top-k heap
    "q_ann_ingest" -> 16, // scan-fused assign vs broadcast centroids
    "q_random_walks" -> 16, // per hop: two walker-sized equi-joins
                            // against the persisted rank/degree frames
    "q_node2vec_walks" -> 16, // hops expand to the frontier's
                              // neighborhood (Σ deg(cur)), never the graph
    "q_skipgram_pairs" -> 16, // scan-fused window pairs + bucketed
                              // noise-table equi-join (vocab-bounded)
    "q_walk_skipgram" -> 16, // walk frames + walker-sized resequence
                             // + scan-fused pairs
    "q_logrank" -> 16, // one corpus rollup; sums over <=|durations|
    "q_mrmr_select" -> 16, // two one-pass contingency scans; greedy
                           // over <=|F|^2 bounded rows
    "q_glove_cooc" -> 16, // scan-fused window pairs + one
                          // vocab-pair-bounded rollup
    "q_ipw_ate" -> 16, // one corpus aggregate; arithmetic on 1 row
    "q_temp_scaling" -> 16, // |grid| fan-out, one <=|grid| aggregate
    "q_sprt" -> 16, // one daily rollup; fold over <=|days| frame
    // round-12 targets
    "q_unigram_encode" -> 16, // bounded word-table train (driver EM)
                              // + scan-fused per-row Viterbi kernel
    "q_glove_fit" -> 16, // per half-step: one vocab-pair-bounded
                         // groupBy vs broadcast factors + CholeskySolve
    "q_neighborhood_function" -> 16, // per round: |E|+|V| packed
                                     // register rows through one edge join
    "q_scc_pivot" -> 16, // corpus-sized trade join, then two BFS
                         // sweeps on the 25-node dominance graph
    "q_betweenness" -> 16, // 2 pivots × O(depth·|E|) level joins,
                           // integer σ + round-6 δ handoffs
    "q_glove_walks" -> 16, // walker-sized hops + vocab-pair cooc
                           // + broadcast ALS half-steps
    // round-12 second-session targets. NOT measured, with reasons:
    // q_kmv_setops (<=2k-row frames downstream of the measured
    // sketch), q_aipw_ate (the same single-aggregate shape as the
    // measured q_ipw_ate), q_als_recs (bounded probe fan-out over the
    // measured q_als_implicit fit), q_forecast_backtest (corpus work
    // is ONE daily rollup; the folds are driver arithmetic over
    // <=|days| rows)
    "q_wordpiece_encode" -> 16, // bounded word-table train + scan-fused
                                // greedy longest-match kernel
    // round-13 targets
    "q_byte_bpe" -> 16, // bounded word-table train + scan-fused
                        // byte-surrogate merge kernel
    "q_glove_fit_d8" -> 16, // the measured q_glove_fit shape at d = 8:
                            // 44 agg columns per half-step
    "q_als_implicit_d8" -> 16, // the measured q_als_implicit shape at
                               // d = 8: wider agg row
    "q_weighted_sssp" -> 16, // corpus-sized trade join, then bucketed
                             // relaxation phases on the 25-node graph
    "q_kmv_sketch" -> 16, // one bounded BottomKDistinct aggregate
                          // (<= k values per partition pre-shuffle)
    "q_als_implicit" -> 16, // per half-step: one interaction-frame
                            // groupBy vs broadcast factors + 1-row Gram
                            // + CholeskySolve
    "q_cox_onestep" -> 16, // one rollup; risk-set windows over the
                           // <=|durations| frame
    "q_policy_eval" -> 16, // two corpus aggregates vs broadcast
                           // (segment, action) frames
    "q_link_scores" -> 16, // degree-capped wedge join + tiny degree
                           // joins (the q_adamic_adar shape)
    "q_ab_ratio_delta" -> 16, // per-user rollup + ONE 12-column
                              // conditional-moment aggregate
    // round-14 targets
    "q_resample_sparse" -> 16, // the production resample: scd2
                               // intervals + as-of probes — output
                               // Θ(5·users), must hold β ≤ 1 where the
                               // dense grid's β ≈ 1.4 is output-bound
    "q_weighted_betweenness" -> 16) // 2 pivots × (Δ-stepping SSSP +
                                    // DAG build + 2·maxHops wave joins)
    .filter { case (q, _) =>
      sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .forall(_.split(",").map(_.trim).contains(q))
    }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scaling")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt.max(1)
    val spark = SparkEntry.localSession(defaultCpus = 32)

    factors.foreach { f =>
      val dir = s"$baseDir/x$f"
      System.err.println(s"[scaling] generating $dir (factor $f)")
      graft.datasets.ScaleData.generate(spark, dir, f)
    }

    def materialize(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[scaling] $name @ $dir FAILED: ${e.getMessage}")
        Double.NaN
      }
    }

    // warmup on the smallest corpus, untimed
    materialize("q1_agg", s"$baseDir/x1")

    // passes sweep (factor, query) so reps are comparable; memos
    // cleared per pass so fit-once costs are re-paid like Bench
    val cells = for {
      f <- factors
      (q, cap) <- targets if f <= cap
    } yield (q, f)
    val byPass = (1 to reps).map { pass =>
      graft.core.Memos.clearAll()
      val ts = cells.map { case (q, f) =>
        val t = materialize(q, s"$baseDir/x$f")
        System.err.println(f"[scaling] pass $pass $q x$f: $t%.2f s")
        (q, f) -> t
      }.toMap
      ts
    }
    val best: Map[(String, Int), Double] =
      cells.map(c => c -> {
        val ok = byPass.map(_(c)).filterNot(_.isNaN)
        if (ok.isEmpty) Double.NaN else ok.min
      }).toMap

    // least-squares slope of ln t on ln f
    def slope(points: Seq[(Int, Double)]): Double = {
      val xs = points.map(p => math.log(p._1.toDouble))
      val ys = points.map(p => math.log(p._2))
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      num / den
    }

    val rows = targets.map { case (q, cap) =>
      val pts = factors.filter(_ <= cap).map(f => f -> best((q, f)))
        .filterNot(_._2.isNaN)
      (q, pts, if (pts.size >= 2) slope(pts) else Double.NaN)
    }

    // every exponent > 1.3 must name its super-linear term here —
    // an entry missing for a >1.3 slope is a harness bug by contract
    // ASCII only: the artifact must survive any consumer charset
    val notes = Map(
      "q_fuzzy_join" -> ("round 9: re-blocked on the order-1 deletion " +
        "neighborhood via blockingUnion -- recall-exact for lev<=1 by " +
        "theorem, block sizes bounded by the ~90-parent variant " +
        "cluster, fan-out x(len+1) linear. Retires the round-8 " +
        "exponent 1.571 measured on the fixed 25-nation key"),
      "q_resample_ffill" -> ("output grid = users x hourly span, both " +
        "growing with f in this corpus family -- the operator is " +
        "linear in its OUTPUT grid; slope reflects grid growth, not " +
        "operator waste. Scale path for sparse keys: scd2History " +
        "(validity intervals, O(#changes) rows) + as-of join instead " +
        "of a dense grid -- see resampleHourlyFfill scaladoc"),
      "q_record_linkage" -> ("round 9: candidates from a union of fine " +
        "blocking rules (text prefix-24, suffix-24, exact (lang, " +
        "source, n_chars)) -- content-key cardinality grows WITH the " +
        "corpus so blocks stay bounded; EM stays O(2^K). Retires the " +
        "round-8 exponent 1.124 measured on the ~8 pow2 length buckets"),
      "q_neighborhood_function" -> ("round 13: registers PACKED into " +
        "one array<int> row per node (2^p map-side max aggs, " +
        "HyperBall.maxMerge) -- per round |E|+|V| rows through one " +
        "edge join, no 2^p row multiplier on the shuffle. Retires " +
        "the round-12 exponent 1.194 measured on the (node, " +
        "register) row layout (x16 leg 527 s -> 49 s, re-measured " +
        "exponent 0.55)"),
      "q_bitext_mine_lsh" -> ("capped at 4x: the gate pins nPlanes=4 " +
        "(16 buckets) for the oracle replay, so within-bucket " +
        "candidates grow ~ f^2/2^planes BY CONSTRUCTION at fixed " +
        "planes; the production knob is nPlanes ~ log2(corpus) -- " +
        "buckets stay bounded and the miner stays ~linear. The " +
        "deliberate recall<1 CCMatrix tradeoff is spec'd " +
        "(LSH-subset-of-brute parity)"))
    def fmt(d: Double) = if (d.isNaN) "null"
      else String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(d)) // locale-proof decimal point
    val json = rows.map { case (q, pts, b) =>
      val times = pts.map { case (f, t) => s""""x$f":${fmt(t)}""" }.mkString(",")
      val note = notes.get(q)
        .map(n => s""","note":"$n"""").getOrElse("")
      s""""$q":{"exponent":${fmt(b)},"times":{$times}$note}"""
    }.mkString("{\"reps\":" + reps + ",\"base\":\"sf0.1\",\"queries\":{", ",", "}}")

    // dev-knob runs must not clobber the committed artifact (the
    // BENCH_SUBSET.json convention)
    val artifact =
      if (sys.env.contains("SPARK_GRAFT_SCALE_ONLY") ||
        sys.env.contains("SPARK_GRAFT_SCALE_FACTORS")) "SCALING_DEV.json"
      else "SCALING.json"
    val w = new java.io.PrintWriter(new java.io.File(artifact), "UTF-8")
    try w.println(json) finally w.close()
    System.err.println(json)
    rows.sortBy(-_._3).foreach { case (q, pts, b) =>
      System.err.println(f"[scaling] $q%-24s beta=$b%5.2f  " +
        pts.map { case (f, t) => f"x$f=$t%.2fs" }.mkString(" "))
    }
    spark.stop()
    println(json)
  }
}
