package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan

/** Pins the judge plan audits as a permanent regression gate: walks the
  * physical plan of EVERY SparkEntry query and asserts the three
  * 100 TB-scale anti-patterns stay out of the engine —
  *
  *  1. no CartesianProduct anywhere (broadcast nested-loop joins with a
  *     bounded broadcast side are the accepted form for the brute-force
  *     ANN scorer);
  *  2. no Window node outside the whitelisted queries whose SEMANTICS
  *     are windows (event-time/running aggregates) or that document a
  *     tiny-n driver-bounded index (the r3 ANN top-k regression —
  *     row_number over a corpus-sized partition — would trip this);
  *  3. no ScalaUDF outside the justified whitelist (broadcast-model
  *     predict, the per-row stateful minhash signature loop, the
  *     decode-stub multimodal path).
  *
  * Plans are inspected at sf0.001 via queryExecution.sparkPlan (the
  * physical plan before AQE wrapping, so Window/CartesianProduct/UDF
  * nodes are visible without executing the query).
  */
class PlanRegressionSpec extends SparkSpec {

  /** Queries allowed to contain Window nodes, each with the reason.
    * (The fold/search/slice gates keep their row indexes OUT of the
    * returned plan — their tiny-n windows run inside the eager gate
    * construction — so only the two truly windowed OPERATORS remain.)
    */
  private val windowWhitelist: Set[String] = Set(
    "q_window_running_sum",  // running sum per key — the operator itself
    "q_window_latest_order", // latest-row-per-key ranking — the operator itself
    "q_window_lead_lag",     // lag/lead/ntile/percent_rank — the
                             // navigation-function surface itself
    "q_sequence_packing",    // per-SHARD running token sum — the packing
                             // operator's semantics; never a global orderBy
    "q_llm_pipeline_v2",     // the flagship's final stage IS the per-shard
                             // packing window above, over the sampled set
    "q_llm_pipeline_v3",     // same final packing stage, classifier-filtered
    "q_llm_pipeline_v4",     // same final packing stage, plus substr-dedup
                             // filter + LM scoring (their own windows stay
                             // inside eager/cached construction)
    // (q_llm_pipeline_v5 / _v6: the packing window now lives inside the
    // shared fit-once v5Packed persisted frame, so the gate plans
    // surface as InMemoryTableScan + orderBy / manifest aggregate —
    // no whitelist entries needed, same convention as q_dedup_substr.)
    "q_asof_join",           // the as-of operator IS a per-key running
                             // last() window (one shuffle + sort — the
                             // alternative is a banned theta-join)
    "q_asof_forward",        // same operator, forward direction
    "q_asof_tolerance",      // same operator, tolerance bound
    // (q_winnowing: the rolling min moved into the native WinnowingFp
    // expression — the gate plan is now a scan-fused Generate with no
    // Window node, so no whitelist entry.)
    "q_pack_length_buckets", // per-(shard, length-bucket) running token
                             // sum — packing semantics, windows strictly
                             // narrower than q_sequence_packing's
    "q_multimodal_pack",     // the same per-SHARD packing window on the
                             // combined text+image token cost — identical
                             // scale posture to q_sequence_packing
    "q_pack_offsets",        // the same per-SHARD packing window; the
                             // offset is pure arithmetic on its sum
    "q_padding_waste",       // same packing window feeding two tiny
                             // ≤|packs|-key aggregations
    "q_budget_select",       // ordered prefix WITHIN the single boundary
                             // score group only (the corpus path is a
                             // scan-fused filter; see Curriculum doc)
    "q_anneal_phases",       // same boundary-group-only window
    "q_source_gini",         // rank window strictly over the ≤|sources|
                             // aggregate frame (Gini needs the ascending
                             // rank), never over the corpus
    "q_kaplan_meier",        // risk-set reverse cumsum + ordered survival
                             // product strictly over the ≤|durations|
                             // aggregate frame, never the corpus
    // (q_logrank, q_cox_onestep, q_trend_robust, q_ab_mannwhitney: their
    // running sums are Prefix.cumSums' partition carry, an RDD pass with
    // no Window node, so no whitelist entries.)
    "q_sprt",                // cumulative LLR strictly over the
                             // ≤|days| daily aggregate — the ordered
                             // fold IS the sequential-test semantics
    "q_gains_chart",         // cumulative windows strictly over the
                             // 10-row decile frame; corpus binning is a
                             // scan-fused fold on broadcast boundaries
    // (q_neyman_allocation / q_neyman_sample: the largest-remainder
    // rank window — strictly over the |strata|-row aggregate — lives
    // inside the fit-once persisted allocation memo, so both gate
    // plans surface as InMemoryTableScan; no whitelist entries needed,
    // the q_llm_pipeline_v5/v6 convention. The CORPUS ranking in the
    // sample is the bounded-heap TopKByScore, never a window.)
    "q_resample_ffill",      // forward-fill IS a per-key running last()
                             // window over the generated hour grid —
                             // partitioned by user, never a global sort
    "q_scd2",                // change-flag lag + running segment sum per
                             // key IS the SCD2 semantics; the valid_to
                             // lead runs over the segment frame only
    "q_resample_sparse",     // composes the two whitelisted shapes
                             // above: scd2's per-key segment windows +
                             // the as-of per-key running last() — all
                             // partitioned by user_id; probe/interval
                             // frames are Θ(5·users) / Θ(#changes),
                             // never a global sort
    "q_event_transitions",   // per-USER lag IS the Markov-transition
                             // semantics — partitioned by key, never a
                             // global sort; downstream is ≤|states|²
    "q_attribution",         // per-USER conversion-group cumsum IS the
                             // attribution semantics; everything after
                             // is per-(user, group) aggregates
    "q_ndcg",                // ideal-permutation row_number strictly over
                             // the per-query top-k candidate frame
                             // (|queries|·k rows), never the corpus
    "q_quantile_sketch"      // two cumulative windows: one over the
                             // ≤|buckets| sketch frame (the read-out),
                             // one over the ≤|distinct prices|
                             // value-level frame (the gate's exact-
                             // order-statistic check), never the corpus
    // (q_dedup_substr's gaps-and-islands span-merge windows — per-doc
    // partitions — run inside the operator's eager span materialization
    // and surface to the gate plan as an InMemoryTableScan, so no
    // whitelist entry is needed here.)
  )

  /** Queries allowed to contain ScalaUDFs, each with the reason.
    * (The linear/GNB predicts and the minhash family keep their UDFs
    * out of the returned plan — predictions are column expressions and
    * the signature UDF runs inside the eager dedup phase — so only the
    * genuinely opaque-model paths remain.)
    */
  private val udfWhitelist: Set[String] = Set(
    // broadcast-local-model per-row predict — the ParallelPostFit /
    // BlockwiseVoting contract wraps an arbitrary opaque model
    "q_parallel_postfit", "q_parallel_postfit_proba",
    "q_blockwise_vote", "q_blockwise_vote_soft", "q_blockwise_regressor",
    // MLlib built-in transforms carry their own internal UDFs, plus the
    // sparse-vector explode in the gate projection
    "q_feature_hasher", "q_hashing_tf"
  )

  // Build every query's pre-AQE physical plan once; the three audits
  // share the map. Eager gate queries run their (sf0.001) fits here.
  private lazy val plans: Map[String, SparkPlan] =
    SparkEntry.queries.map { case (name, q) =>
      name -> q(spark, sfDir).queryExecution.sparkPlan
    }

  private def offenders(pred: SparkPlan => Boolean): Seq[String] =
    plans.collect { case (name, p) if p.collect { case n if pred(n) => n }.nonEmpty => name }
      .toSeq.sorted

  test("no CartesianProduct in any query plan") {
    val bad = offenders(_.nodeName.contains("CartesianProduct"))
    assert(bad.isEmpty, s"CartesianProduct in: ${bad.mkString(", ")}")
  }

  test("no Window node outside the semantic-window whitelist") {
    val bad = offenders(n =>
      n.nodeName == "Window" || n.nodeName == "WindowGroupLimit")
      .filterNot(windowWhitelist)
    assert(bad.isEmpty, s"unexpected Window in: ${bad.mkString(", ")}")
  }

  test("no ScalaUDF outside the justified whitelist") {
    val bad = offenders(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])))
      .filterNot(udfWhitelist)
    assert(bad.isEmpty, s"unexpected ScalaUDF in: ${bad.mkString(", ")}")
  }

  test("whitelists stay tight: every whitelisted query still has the node it excuses") {
    // a whitelist entry whose query no longer needs it should be removed,
    // not silently kept as a hole
    val windows = offenders(n =>
      n.nodeName == "Window" || n.nodeName == "WindowGroupLimit").toSet
    val udfs = offenders(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))).toSet
    val staleW = windowWhitelist.filter(plans.contains).diff(windows)
    val staleU = udfWhitelist.filter(plans.contains).diff(udfs)
    assert(staleW.isEmpty, s"stale window whitelist entries: ${staleW.mkString(", ")}")
    assert(staleU.isEmpty, s"stale udf whitelist entries: ${staleU.mkString(", ")}")
  }
}
