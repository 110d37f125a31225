package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryPack, Tables}

/** Relational operator coverage (SURVEY.md §2.9): scans with
  * pushdown/pruning, hash + broadcast joins, semi/anti joins, hash
  * aggregation, rollup, windows, top-k, set ops, string/date/JSON
  * functions. The reference (dask-ml) gets these from dask.dataframe;
  * here they are plain Catalyst plans — filters and projections reach the
  * parquet scan, small dimension tables are broadcast, aggregates are
  * partial (map-side) before the shuffle.
  */
object RelationalQueries extends QueryPack {

  private def rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Candidate pairs for the Fellegi–Sunter gates: documents blocked
    * by power-of-two char-length bucket (the pack_length_buckets
    * convention — near-dup lengths land in the same or adjacent
    * bucket; standard blocking recall caveat applies), with four
    * binary agreement fields. Blocking is a plain equi-join on the
    * bucket key — the same candidate-generation shape as fuzzyPairs.
    */
  private val linkageFields = Seq("g_source", "g_lang", "g_len", "g_prefix")
  private def linkagePairs(s: SparkSession, dir: String): DataFrame = {
    // Candidates come from a UNION OF FINE BLOCKING RULES
    // (EntityResolution.blockingUnion — the Splink deployment
    // pattern), replacing the single pow2-length bucket whose ~8
    // fixed blocks grew quadratically with the corpus (measured
    // exponent 1.124 in round-8 SCALING.json):
    //   r0 text prefix-24  — content key, cardinality grows WITH the
    //      corpus, so blocks stay bounded by the true dup-cluster
    //      size; carries the recall (every minhash-truth pair at the
    //      gate SFs shares its first 24 chars)
    //   r1 text suffix-24  — symmetric content key catching
    //      head-edited near-dups the prefix misses
    //   r2 (lang, source, exact n_chars) — attribute key supplying
    //      the non-match candidate mass the EM's u-estimates need;
    //      exact length (not a bucket) keeps its cells ~singleton at
    //      gate scale
    // The union is recall-preserving (a pair survives if ANY rule
    // fires) while every rule bounds its own blocks — the blocking
    // dilemma a single key can't square. (1) The 32-char agreement
    // prefix and the rule keys are projected BEFORE the fan-out:
    // five narrow columns are all the candidate join and agreement
    // vectors need. (2) blockingUnion co-partitions the exploded
    // keys itself; no salt is needed because no rule has coarse
    // blocks — that was the point.
    val d = Tables.documents(s, dir).select(col("doc_id"),
      substring(col("text"), 1, 32).as("pfx"),
      col("lang"), col("source"), col("n_chars"),
      substring(col("text"), 1, 24).as("r_pfx"),
      col("text").substr(
        greatest(length(col("text")) - 23, lit(1)), lit(24)).as("r_sfx"))
    // r2 uses plain concat (NULL-PROPAGATING, unlike concat_ws which
    // skips nulls): a null component must opt the row out of the rule,
    // matching the mirror's component-wise equality where NULL never
    // matches. ('|' never occurs in lang/source values.)
    EntityResolution.blockingUnion(d, "doc_id",
        rules = Seq(col("r_pfx"), col("r_sfx"),
          concat(col("lang"), lit("|"), col("source"), lit("|"),
            col("n_chars").cast("string"))),
        payload = Seq("pfx", "lang", "source", "n_chars"))
      .select(col("id_a") +: col("id_b") +: linkageAgreementCols: _*)
  }

  /** The four binary agreement fields over a paired frame with
    * `<attr>_a`/`<attr>_b` columns — shared by the blocked candidate
    * pairs and the random-pair u-estimator, so both score the SAME
    * comparison definitions.
    */
  private def linkageAgreementCols: Seq[Column] = Seq(
    when(col("source_a") === col("source_b"), 1).otherwise(0)
      .as("g_source"),
    when(col("lang_a") === col("lang_b"), 1).otherwise(0).as("g_lang"),
    when(abs(col("n_chars_a") - col("n_chars_b")) * 20 <=
      greatest(col("n_chars_a"), col("n_chars_b")), 1).otherwise(0)
      .as("g_len"),
    when(col("pfx_a") === col("pfx_b"), 1).otherwise(0).as("g_prefix"))

  /** Fit-once memos for the linkage family: the blocked pair join is
    * the corpus-sized cost and THREE gates consume it (params, scored
    * pairs, entity clusters) — pairs (a narrow 6-column projection)
    * and the 1-row EM params are persisted once per dir and shared,
    * the v5Packed/neymanAllocMemo convention. Cleared by
    * Memos.clearAll between Bench passes.
    */
  /** Per-dir shared frames for the graph family (VERDICT r9 nit #4):
    * before round 10, KCore/LPA/modularity/Triangles each re-built and
    * re-persisted their own symmetrized copy of the SAME part
    * co-purchase graph, and the three trade-graph gates (pagerank, ppr,
    * hits) each re-ran the same 4-table corpus join. One persisted
    * [[graft.graph.EdgeFrames.symmetrizedWeighted]] frame (and one
    * 25-node trade edge frame) now serves the family; LPA labels are
    * memoized too because q_label_prop and q_modularity share them.
    * Cleared by Memos.clearAll between Bench passes.
    */
  private val linkageMemo =
    graft.core.Memos.register(new graft.core.Memos.CachedFrameMap())
  private val graphMemo =
    graft.core.Memos.register(new graft.core.Memos.CachedFrameMap())
  private def coPurchaseSymMemo(s: SparkSession, dir: String): DataFrame =
    graphMemo.computeIfAbsent(s"copurchase:$dir", _ => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("id_a"), col("b.pk").as("id_b"))
      // persisted PRE-PARTITIONED on __s (r14 optimization, guide §2.4
      // "share one exchange"): the family's per-round joins broadcast
      // the node-sized side, so the join output keeps this
      // partitioning, and every groupBy(__s, …) / per-__s window
      // downstream is then exchange-free (HashPartitioning(__s)
      // satisfies any clustering that CONTAINS __s) — one exchange at
      // memo build instead of one per round per consumer. The
      // production analog is bucketing the edge table by source id.
      val nParts = s.sessionState.conf.numShufflePartitions
      val sym = graft.graph.EdgeFrames.symmetrizedWeighted(pairs)
        .repartition(nParts, col("__s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sym.count()
      sym
    })
  private def tradeEdgesMemo(s: SparkSession, dir: String): DataFrame =
    graphMemo.computeIfAbsent(s"trade:$dir", _ => {
      val e = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    })
  /** Inverse-volume trade edge frame (src, dst, len) — the weighted
    * graph the q_weighted_* family ranks; one projection shared so the
    * three gates provably score the SAME lengths. */
  private def tradeWeightedEdges(s: SparkSession, dir: String): DataFrame =
    tradeEdgesMemo(s, dir).select(col("src"), col("dst"),
      greatest(lit(1L), floor(lit(10000) / col("w")).cast("long"))
        .as("len"))

  /** Per-dir multi-seed Δ-stepping distances (seed, id, dist) for the
    * weighted-centrality pivot set {0, 1, 2} — ONE batched SSSP
    * ([[graft.graph.DeltaStepping.shortestPathsMulti]]) serving three
    * gates that each re-ran their own bucketed SSSP chains before the
    * r14 optimization round (q_weighted_sssp: seed 0;
    * q_weighted_betweenness: pivots 0, 1; q_weighted_harmonic: pivots
    * 0, 1, 2). Exact SSSP is schedule-independent, so each seed's
    * slice is bit-identical to its own single-seed run — the oracles
    * (chained Bellman–Ford CTEs) are unchanged. Fit-once memo under
    * the [[lpaLabelsMemo]] convention; cleared between Bench passes.
    */
  private def tradeWeightedDistMemo(s: SparkSession, dir: String): DataFrame = {
    val e = tradeWeightedEdges(s, dir)
    graphMemo.computeIfAbsent(s"wsssp:$dir", _ => {
      import s.implicits._
      val d = graft.graph.DeltaStepping.shortestPathsMulti(e,
          "src", "dst", "len", Seq(0L, 1L, 2L).toDF("__seed"),
          delta = 4096L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    })
  }
  /** Per-dir DeepWalk corpus memo: q_random_walks, q_walk_skipgram and
    * q_glove_walks all generate the IDENTICAL trajectory set (seeds
    * ≤ 30, 2 walks × 4 hops, salt "rw") — one generation serves all
    * three (r14 optimization; the lpaLabelsMemo convention). */
  private def walksMemo(s: SparkSession, dir: String): DataFrame = {
    val sym = coPurchaseSymMemo(s, dir)
    graphMemo.computeIfAbsent(s"walks:$dir", _ => {
      val seeds = sym.select(col("__s")).distinct()
        .filter(col("__s") <= 30).select(col("__s").as("__n"))
      val w = graft.graph.RandomWalks.uniformWalksOn(sym, seeds,
          walksPerNode = 2, steps = 4, salt = "rw")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      w.count()
      w
    })
  }
  private def lpaLabelsMemo(s: SparkSession, dir: String): DataFrame = {
    // resolve the edge memo BEFORE computeIfAbsent (no nested updates
    // on one map — the linkageParamsMemo convention)
    val sym = coPurchaseSymMemo(s, dir)
    graphMemo.computeIfAbsent(s"lpa:$dir", _ => {
      val l = graft.graph.LabelPropagation.labelPropagationOn(sym, 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      l.count()
      l
    })
  }
  private[graft] def linkagePairsMemo(s: SparkSession, dir: String): DataFrame =
    linkageMemo.computeIfAbsent(s"pairs:$dir", _ => {
      val p = linkagePairs(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    })
  /** Per-dir u-estimates from DETERMINISTIC random pairs (Splink's
    * estimate_u_using_random_sampling; FellegiSunter.uFromRandomPairs)
    * — the counterpart the union-blocked candidates need: fine
    * blocking rules make candidates match-dominated, so u estimated
    * ON them starves (pins at the clamps); random pairs are
    * non-match-dominated by construction. Stores the collected 1-row
    * map (4 bounded doubles — the weights-in-plan convention).
    */
  private val linkageUMemo = graft.core.Memos.register(
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Double]]())
  private def linkageU(s: SparkSession, dir: String): Map[String, Double] =
    linkageUMemo.computeIfAbsent(dir, d => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 32).as("pfx"),
        col("lang"), col("source"), col("n_chars"))
      val n = docs.count()
      val row = graft.linkage.FellegiSunter.uFromRandomPairs(
        docs, "doc_id", Seq("pfx", "lang", "source", "n_chars"),
        j => j.select(linkageAgreementCols: _*), linkageFields,
        nBuckets = math.max(n / 4, 1L)).collect()(0)
      linkageFields.map(f => f -> row.getAs[Double](s"u_$f")).toMap
    })

  /** The u-estimator CTEs as SQL (relations `ub`, `upairs`,
    * `uparams`) — the same h60 bucket draw, agreement expressions,
    * and clamped rounding.
    */
  private val linkageUSql: String =
    graft.linkage.FellegiSunter.uFromRandomPairsSql(
      "(SELECT doc_id, substr(text, 1, 32) AS pfx, lang, source, " +
        "n_chars FROM documents) urel",
      "doc_id",
      Seq(
        "g_source" -> "CASE WHEN a.source = b.source THEN 1 ELSE 0 END",
        "g_lang" -> "CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END",
        "g_len" -> ("CASE WHEN abs(a.n_chars - b.n_chars) * 20 " +
          "<= greatest(a.n_chars, b.n_chars) THEN 1 ELSE 0 END"),
        "g_prefix" -> "CASE WHEN a.pfx = b.pfx THEN 1 ELSE 0 END"),
      nBucketsExpr = "SELECT greatest(count(*) // 4, 1) FROM documents")

  private def linkageParamsMemo(s: SparkSession, dir: String): DataFrame = {
    // resolve the pairs memo BEFORE entering computeIfAbsent: a
    // mapping function must not modify the same ConcurrentHashMap
    // (nested computeIfAbsent on one map risks a "Recursive update"
    // IllegalStateException when the keys share a bin)
    val pairs = linkagePairsMemo(s, dir)
    linkageMemo.computeIfAbsent(s"params:$dir", _ => {
      val pm = graft.linkage.FellegiSunter.emFit(pairs, linkageFields,
          iters = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pm.count()
      pm
    })
  }

  /** The identical pair construction as SQL CTEs (relations
    * `linkdocs`, `linkpairs`) — shared by both linkage oracles.
    */
  private[graft] val linkagePairsSql =
    """linkdocs AS (SELECT doc_id, text, lang, source, n_chars,
      |    substr(text, 1, 24) AS r_pfx,
      |    substr(text, CAST(greatest(len(text) - 23, 1) AS INT)) AS r_sfx
      |  FROM documents),
      |linkcand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM linkdocs a JOIN linkdocs b
      |    ON a.r_pfx = b.r_pfx AND a.doc_id < b.doc_id
      |  UNION
      |  SELECT a.doc_id, b.doc_id
      |  FROM linkdocs a JOIN linkdocs b
      |    ON a.r_sfx = b.r_sfx AND a.doc_id < b.doc_id
      |  UNION
      |  SELECT a.doc_id, b.doc_id
      |  FROM linkdocs a JOIN linkdocs b
      |    ON a.lang = b.lang AND a.source = b.source
      |      AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
      |linkpairs AS (SELECT c.id_a, c.id_b,
      |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g_source,
      |    CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS g_lang,
      |    CASE WHEN abs(a.n_chars - b.n_chars) * 20
      |      <= greatest(a.n_chars, b.n_chars) THEN 1 ELSE 0 END AS g_len,
      |    CASE WHEN substr(a.text, 1, 32) = substr(b.text, 1, 32)
      |      THEN 1 ELSE 0 END AS g_prefix
      |  FROM linkcand c
      |    JOIN linkdocs a ON c.id_a = a.doc_id
      |    JOIN linkdocs b ON c.id_b = b.doc_id)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Scan + projection + filter: predicate & column pruning reach parquet.
    "q_scan_filter" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy("l_orderkey", "l_linenumber")),

    // TPC-H Q1-style hash aggregate; partial aggregation before shuffle.
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(rev), 4).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Multi-join: lineitem ⋈ orders ⋈ customer ⋈ nation; nation/customer
    // broadcast (small dims), lineitem⋈orders co-partitioned on orderkey.
    "q_join_revenue_by_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = broadcast(Tables.customer(s, dir))
      val n = broadcast(Tables.nation(s, dir))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(rev), 4).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // Broadcast join small dim (part) against fact (lineitem).
    "q_join_broadcast_part" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"))
        .orderBy("p_brand")),

    // Anti join: customers with no high-value (>100k) orders, per segment.
    "q_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 100000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // Semi join: nations having at least one customer with acctbal > 9000.
    "q_semi_join" -> ((s, dir) => {
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
      n.join(c, col("n_nationkey") === col("c_nationkey"), "left_semi")
        .select("n_nationkey", "n_name").orderBy("n_nationkey")
    }),

    // Top-k with deterministic tie-break.
    "q_topk_customers" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 4).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .orderBy(desc("total_spent"), asc("o_custkey"))
        .limit(10)),

    // Window: latest order per customer (row_number).
    "q_window_latest_order" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy("o_custkey")
    }),

    // Window: per-customer running total ordered by date.
    "q_window_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 4).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Window: the navigation/distribution function surface — lag/lead
    // over the per-customer order sequence plus ntile quartiles and
    // percent_rank (one Window node, all functions share the frame).
    "q_window_lead_lag" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_orderkey", 1).over(w).as("prev_order"),
          lead("o_orderkey", 1).over(w).as("next_order"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Set ops: custkeys appearing in orders but not among high-balance
    // customers (EXCEPT) + intersection count.
    "q_set_ops" -> ((s, dir) => {
      val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("k")).distinct()
      val highBal = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k")).distinct()
      val ex = withOrders.except(highBal).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
      val in = withOrders.intersect(highBal).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
      val un = withOrders.union(highBal).distinct().agg(count(lit(1)).as("n")).withColumn("op", lit("union"))
      ex.union(in).union(un).select("op", "n").orderBy("op")
    }),

    // Distinct aggregates.
    "q_distinct_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir).agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"))),

    // Rollup (grouping sets) over returnflag × linestatus.
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // String functions.
    "q_string_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")),

    // Date functions: orders per month.
    "q_date_funcs" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_totalprice"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 4).as("monthly_total"))
        .orderBy("month")),

    // Events: hourly tumbling aggregation (batch analog of the streaming
    // windowed agg; string hour keys keep the oracle timezone-proof).
    "q_events_hourly" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
        .orderBy("hour", "event_type")),

    // JSON extraction from events.props.
    "q_json_funcs" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 90)
        .orderBy("event_id")),

    // As-of join (pandas merge_asof backward): each error event picks the
    // most recent same-user click at-or-before it. One shuffle + sort —
    // no theta-join (Temporal.asofJoin); the DuckDB oracle is the native
    // ASOF JOIN, an independent implementation of the same semantics.
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
      val errs = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "us")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us"),
          col("value").as("c_value"), col("event_id").as("c_id"))
      Temporal.asofJoin(errs, clicks, Seq("user_id"), "us", "c_us",
          Seq("c_value"), rightTiebreak = Seq("c_id"))
        .filter(col("asof").isNotNull)
        .select(col("event_id"), col("user_id"), col("us").as("err_us"),
          col("asof.c_us").as("click_us"),
          (col("us") - col("asof.c_us")).as("gap_us"),
          col("asof.c_value").as("click_value"))
        .orderBy("event_id")
    }),

    // Forward as-of (pandas direction='forward'): the NEXT same-user
    // click at-or-after each error — same one-shuffle plan, negated ords.
    "q_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
      val errs = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "us")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us"),
          col("value").as("c_value"), col("event_id").as("c_id"))
      Temporal.asofJoin(errs, clicks, Seq("user_id"), "us", "c_us",
          Seq("c_value"), rightTiebreak = Seq("c_id"),
          direction = "forward")
        .filter(col("asof").isNotNull)
        .select(col("event_id"), col("user_id"), col("us").as("err_us"),
          col("asof.c_us").as("click_us"),
          (col("asof.c_us") - col("us")).as("gap_us"),
          col("asof.c_value").as("click_value"))
        .orderBy("event_id")
    }),

    // As-of with a tolerance bound (pandas tolerance=): backward match
    // kept only within 1 h — matches farther back are nulled, then
    // dropped (inner semantics).
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
      val errs = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "us")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us"),
          col("event_id").as("c_id"))
      Temporal.asofJoin(errs, clicks, Seq("user_id"), "us", "c_us", Nil,
          tolerance = Some(3600000000L), rightTiebreak = Seq("c_id"))
        .filter(col("asof").isNotNull)
        .select(col("event_id"), col("asof.c_us").as("click_us"),
          (col("us") - col("asof.c_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // Band/range join via bucketed equi-join (|Δt| <= 10 min): clicks
    // near each error, zero-count errors kept. The bucket explode keeps
    // the pair generation an equi-join — never a nested-loop theta-join.
    "q_range_join_count" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("us").as("e_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("us").as("c_us"))
      val counts = Temporal
        .rangeJoinPairs(errs, clicks, "e_us", "c_us", 600000000L)
        .groupBy("event_id").agg(count(lit(1)).as("n_near"))
      errs.join(counts, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy("event_id")
    }),

    // Gap-based sessionization (native session_window, 6 h gap): per-user
    // sessions with start/last timestamps and per-session aggregates.
    "q_sessionize" -> ((s, dir) =>
      Temporal.sessionize(Tables.events(s, dir), Seq("user_id"), "ts",
          "6 hours",
          Seq(count(lit(1)).as("n_events"),
            round(sum("value"), 4).as("sum_value")))
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_last")).as("last_us"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "start_us")),

    // First-order Markov transition matrix of the per-user event
    // stream (Temporal.transitionMatrix): one per-user lag window (the
    // operator's semantics, never global), a ≤|states|² aggregate, and
    // a broadcast per-prev rollup for P(next | prev).
    "q_event_transitions" -> ((s, dir) =>
      Temporal.transitionMatrix(Tables.events(s, dir), "user_id",
          "event_type", "ts", "event_id")
        .orderBy("prev_state", "next_state")),

    // Bloom pre-filtered join: lineitem is screened by a 1-row broadcast
    // bloom of the high-value order keys BEFORE its shuffle; the exact
    // join drops the sketch's false positives, so the result is
    // oracle-exact while only might-match rows pay network.
    "q_bloom_join" -> ((s, dir) => {
      val small = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 150000)
        .select("o_orderkey", "o_orderstatus")
      BloomJoin.bloomFilteredJoin(Tables.lineitem(s, dir), small,
          "l_orderkey", "o_orderkey", expectedItems = 100000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
            4).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // GK-sketch guarantee gate (q_heavy_tokens_cms pattern): the
    // percentile_approx estimate must land within its rank-error bound
    // — between the exact quantiles at p ∓ 2ε (ε = 1/accuracy) — so
    // the gate emits per-group booleans the oracle pins to TRUE. This
    // closes the mergeable-sketch family: MG, HLL++, CMS, GK.
    "q_approx_quantile_bounds" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile_approx(l_quantity, 0.5, 100)").as("__v"),
          expr("percentile(l_quantity, 0.48)").as("__lo"),
          expr("percentile(l_quantity, 0.52)").as("__hi"))
        .select(col("l_returnflag"),
          (col("__v") >= col("__lo") && col("__v") <= col("__hi"))
            .as("within_bounds"))
        .orderBy("l_returnflag")),

    // Mergeable streaming-parity quantile sketch (the r10 "KLL-style"
    // directive, closed with DDSketch semantics — see
    // Sketches.quantileSketch for why the deterministic log-bucket
    // design beats KLL's randomized compaction here): grouped p50/p95/
    // p99 of price per returnflag at α=0.01, the exact order statistic
    // at the same rank ⌊p·(n−1)⌋+1 off a value-level count frame, and
    // the α-relative-error guarantee as a boolean. EVERYTHING replays
    // in DuckDB — the estimate itself is exact-gated, not just its
    // bounds. Merge ≡ whole and stream ≡ batch are spec'd
    // (QuantileSketchSpec / StreamingSketchSpec).
    "q_quantile_sketch" -> ((s, dir) => {
      import s.implicits._
      val alpha = 0.01
      val ps = Seq(0.5, 0.95, 0.99)
      val li = Tables.lineitem(s, dir)
      val est = Sketches.quantileSketchEstimate(
        Sketches.quantileSketch(li, col("l_returnflag"),
          col("l_extendedprice"), alpha), ps, alpha)
      val vals = li.groupBy(col("l_returnflag").as("g"),
          col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("cnt"))
      // exact order statistic: cumulative count over the value-level
      // frame (≤|distinct prices| rows per group), never a corpus sort
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val cum = vals.withColumn("__cum", sum("cnt").over(w))
      val tot = vals.groupBy("g").agg(sum("cnt").as("__n"))
      val exact = cum.join(tot, "g")
        .crossJoin(broadcast(ps.toDF("p")))
        .filter(col("__cum") >=
          floor(col("p") * (col("__n") - 1)).cast("long") + 1)
        .groupBy("g", "p").agg(min("v").as("__ex"))
      est.join(exact, Seq("g", "p"))
        .select(col("g").as("l_returnflag"), col("p"), col("estimate"),
          round(col("__ex"), 6).as("exact_at_rank"),
          (abs(col("estimate") - round(col("__ex"), 6))
            <= lit(alpha) * round(col("__ex"), 6)).as("within_alpha"))
        .orderBy("l_returnflag", "p")
    }),

    // KMV / theta distinct sketch (Sketches.kmvSketch — bottom-128
    // distinct h60 hashes per ship year via the bounded
    // BottomKDistinct aggregate, ≤ k values per partition before the
    // shuffle): per-year distinct-part estimates off the k-th smallest
    // hash, joined against the exact distinct counts so the gate
    // carries its own error readout. EXACT oracle: same md5 hashes,
    // same row_number bottom-k, same IEEE estimate arithmetic.
    "q_kmv_sketch" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val k = 128
      val est = Sketches.kmvEstimate(
        Sketches.kmvSketch(li, year(col("l_shipdate")),
          col("l_partkey"), "kmv", k), k)
      val exact = li.groupBy(year(col("l_shipdate")).as("g"))
        .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
      est.join(exact, "g")
        .select(col("g").as("ship_year"), col("n_seen"), col("estimate"),
          col("exact_distinct"))
        .orderBy("ship_year")
    }),

    // Theta-sketch set operations (Sketches.kmvSetOps) — the distinct
    // algebra HLL cannot express: parts shipped in 1995 vs 1997 as two
    // KMV samples, every estimate read off the cells below the common
    // threshold θ = min(θ_A, θ_B) and scaled by 2^60/θ
    // (union / intersection / difference / sampled-Jaccard), joined
    // with the exact set sizes. One row; every frame ≤ k rows.
    "q_kmv_setops" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val k = 128
      val sk = Sketches.kmvSketch(li, year(col("l_shipdate")),
        col("l_partkey"), "kmv", k)
      val ests = Sketches.kmvSetOps(sk, 1995, 1997, k)
      val a = li.filter(year(col("l_shipdate")) === 1995)
        .select(col("l_partkey").as("pa")).distinct()
      val b = li.filter(year(col("l_shipdate")) === 1997)
        .select(col("l_partkey").as("pb")).distinct()
      val exact = a.join(b, col("pa") === col("pb"), "full_outer")
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("pa").isNotNull && col("pb").isNotNull, 1L)
            .otherwise(0L)).as("exact_intersection"))
      ests.crossJoin(broadcast(exact))
    }),

    // Implicit-feedback ALS (Hu–Koren–Volinsky ICDM'08,
    // recommend/ImplicitAls.scala): rank-2 factors over the
    // customer×part purchase matrix (confidence 1 + 0.1·Σquantity),
    // each half-step ONE groupBy over the interaction frame + the
    // broadcast 1-row Gram (the YᵀY trick — the quadratic cell space
    // never materializes), per-user systems solved by the native
    // CholeskySolve kernel. Quantized trajectory (round-6 confidences,
    // Gram entries and factors) → EXACT chained-CTE oracle replaying
    // the solve op for op through CholeskySql.
    // r14 optimization: the rank-2 fit is memoized per dir
    // (alsFactorsMemo) — q_als_recs consumed an identical second fit.
    "q_als_implicit" -> ((s, dir) =>
      alsFactorsMemo(s, dir).orderBy("role", "id")),

    // The same HKV fit at rank d = 8: identical Gram-trick aggregation
    // shape with d(d+1)/2 + d sums per key. Round-6 trajectory (Gram
    // entries, factor handoffs) → EXACT oracle; the DuckDB side
    // replays the d×d factorization through CholeskySql's nested
    // op-exact mirror.
    "q_als_implicit_d8" -> ((s, dir) =>
      graft.recommend.ImplicitAls.fit(alsConfidences(s, dir), d = 8,
          alternations = 2)
        .orderBy("role", "id")),

    // Top-5 part recommendations for the bounded custkey<30 probe set
    // off the same fit: dot-product scores against every item,
    // already-purchased pairs anti-joined away, per-user bounded-heap
    // top-k (TopKByScore — never a corpus window). Full-catalog
    // serving rides Ann.knnGraph on the item factors instead.
    "q_als_recs" -> ((s, dir) => {
      val conf = alsConfidences(s, dir)
      val probe = conf.select(col("user")).filter(col("user") < 30)
        .distinct()
      graft.recommend.ImplicitAls.recommendTopK(alsFactorsMemo(s, dir),
          conf, probe, 5)
        .orderBy("user", "rank")
    }),

    // Full outer join with ALL three null patterns: every tenth order
    // gets its custkey shifted out of range in-plan (the corpus is
    // referentially intact, so 'order_only' would otherwise be empty).
    "q_outer_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 150000)
        .select(when(col("o_orderkey") % 10 === 0,
            col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")).as("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "cust_only")
          .otherwise("both").as("side"))
        .groupBy("side").agg(count(lit(1)).as("n"))
        .orderBy("side")
    }),

    // Weighted PageRank over the customer-nation → supplier-nation
    // trade graph (the crawl-pipeline link-quality signal). 10
    // iterations, ranks quantized at every handoff so the chained-CTE
    // oracle replays the identical trajectory.
    "q_pagerank" -> ((s, dir) => {
      graft.graph.PageRank.pageRank(tradeEdgesMemo(s, dir), "src", "dst",
          "w", damping = 0.85, iters = 10)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    // Personalized PageRank / TrustRank (Gyöngyi et al. VLDB'04) over
    // the same trade graph: teleport restricted to the vetted seed set
    // (nations 0-4), dangling mass restarts at seeds — the quality-
    // propagation score a corpus pipeline attaches from hand-vetted
    // hosts. Same quantized-trajectory oracle replay as q_pagerank.
    "q_personalized_pagerank" -> ((s, dir) => {
      val seeds = Tables.nation(s, dir)
        .filter(col("n_nationkey") < 5).select(col("n_nationkey"))
      graft.graph.PageRank.personalizedPageRank(tradeEdgesMemo(s, dir),
          "src", "dst", "w", seeds, damping = 0.85, iters = 10)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    // HITS hubs & authorities over the directed trade graph (graph/
    // Hits.scala): who routes trade (hubs) vs who receives it
    // (authorities) — two edge⋈score joins per iteration, L1
    // normalization against a broadcast 1-row total, quantized
    // trajectory replayed by generated chained CTEs.
    // ACL batch residual push (graph/PageRank.pushPersonalizedPageRank)
    // — the seed-LOCAL approximate PPR: residual mass pushed outward
    // only from above-threshold nodes, so each round's join touches the
    // frontier slice of the edge frame, never the whole graph. Gate
    // replays the quantized (p, r) trajectory via chained CTEs; on the
    // 25-node trade graph the frontier empties within the fixed 6
    // rounds, pinning the no-op-round fixpoint semantics too.
    "q_ppr_push" -> ((s, dir) => {
      val seeds = Tables.nation(s, dir)
        .filter(col("n_nationkey") < 5).select(col("n_nationkey"))
      graft.graph.PageRank.pushPersonalizedPageRank(tradeEdgesMemo(s, dir),
          "src", "dst", "w", seeds, alpha = 0.15, eps = 1e-6, rounds = 6)
        .orderBy("node")
    }),

    "q_hits" -> ((s, dir) => {
      graft.graph.Hits.hits(tradeEdgesMemo(s, dir), "src", "dst", "w",
          iters = 10)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node")
    }),

    // k-core decomposition of the part co-purchase graph by iterated
    // neighborhood h-index (Lü et al. 2016 — converges to coreness;
    // graph/KCore.scala): the corpus-graph density signal. 8 integer-
    // exact rounds, each one edge-sized join + per-node aggregate; the
    // oracle replays the identical rounds via generated chained CTEs.
    "q_coreness" -> ((s, dir) =>
      graft.graph.KCore.corenessOn(coPurchaseSymMemo(s, dir), rounds = 8)
        .orderBy("id")),

    // Deequ-style declarative data-quality suite (quality/
    // Constraints.scala): six named rules — completeness, uniqueness,
    // range, set membership, regex, referential integrity — verified
    // in ONE scan of orders (uniqueness rides the same aggregate;
    // only the FK rule adds a second relation, as a left-anti count).
    "q_data_quality" -> ((s, dir) => {
      import graft.quality.Constraints._
      suite(Tables.orders(s, dir),
        Seq(notNull("o_orderkey"), unique("o_orderkey"),
          inRange("o_totalprice", 0, 300000),
          inSet("o_orderstatus", Seq("O", "F")),
          matches("o_orderpriority", "^[1-3]-")),
        fks = Seq(("fk(o_custkey->customer)", "o_custkey",
          Tables.customer(s, dir), "c_custkey")))
        .orderBy("rule")
    }),

    // Fellegi–Sunter record linkage, EM-estimated (linkage/
    // FellegiSunter.scala): union-of-rules blocking (blockingUnion,
    // round 9) → binary agreement vectors (source, lang, 5% length,
    // 32-char prefix) → 5 EM iterations over the ≤2^4 agreement
    // patterns (zero corpus passes per iteration) → per-pair log2
    // match weight + posterior as a scan-fused projection. The oracle
    // replays the quantized EM trajectory via GENERATED chained CTEs
    // with the identical product order.
    "q_linkage_em_params" -> ((s, dir) => linkageParamsMemo(s, dir)),

    "q_record_linkage" -> ((s, dir) =>
      graft.linkage.FellegiSunter.score(linkagePairsMemo(s, dir),
          linkageFields, linkageParamsMemo(s, dir))
        .orderBy("id_a", "id_b")),

    // Splink's estimate_u_using_random_sampling, deterministic: u_k
    // from ~1.5n pseudo-random pairs (h60 bucket blocking, buckets of
    // ~4) — linear in the corpus where the true pair space is n²/2.
    // The 1-row output is what the fixed-u EM consumes.
    "q_linkage_u_random" -> ((s, dir) => {
      val u = linkageU(s, dir)
      s.range(1).select(linkageFields.map(f =>
        lit(u(f)).cast("double").as(s"u_$f")): _*)
    }),

    // The full Splink estimation loop: u from random pairs (held
    // FIXED), then EM over the union-blocked candidates updating only
    // (lam, m) — the production answer to match-dominated candidates
    // starving the u-estimates. Note lam here fits near the TOP clamp
    // by design: lam is P(match | candidate), and union-blocked
    // candidates are match-dominated on purpose — that's the blocking
    // quality (Splink's probability_two_random_records_match is a
    // separate corpus-level prior for the same reason). Oracle: the u
    // CTEs feed the same fixed-u EM replay.
    "q_linkage_em_fixed_u" -> ((s, dir) =>
      graft.linkage.FellegiSunter.emFitFixedU(linkagePairsMemo(s, dir),
        linkageFields, linkageU(s, dir), iters = 5)),

    // The ER endgame: FS-matched pairs (posterior ≥ 0.9) resolved
    // into ENTITIES by transitive closure — the same O(log n)
    // alternating-star components the dedup clusters use, so the two
    // pipelines cross-validate. Output: doc → entity id (least doc_id
    // reachable through match edges).
    "q_entity_clusters" -> ((s, dir) => {
      val matched = graft.linkage.FellegiSunter.score(
          linkagePairsMemo(s, dir), linkageFields,
          linkageParamsMemo(s, dir))
        .filter(col("posterior") >= 0.9)
        .select("id_a", "id_b")
      graft.graph.ConnectedComponents.connectedComponents(matched)
        .select(col("id").as("doc_id"), col("cluster").as("entity_id"))
        .orderBy("doc_id")
    }),

    // Exact triangle counting + Watts–Strogatz local clustering
    // coefficient over the part CO-PURCHASE graph (parts sharing an
    // order) — degree-ordered wedge joins, each triangle generated
    // once at its lowest-(degree,id) corner; see graph/Triangles.scala
    // for the O(m^1.5) skew argument. The oracle enumerates the same
    // triangles by plain id-ordered joins — orientation-invariance of
    // the per-node counts is exactly what the cross-check pins.
    "q_triangle_count" -> ((s, dir) =>
      graft.graph.Triangles.nodeTrianglesOn(coPurchaseSymMemo(s, dir))
        .orderBy("id")),

    // Community detection by synchronous label propagation over the
    // SAME part co-purchase graph, but weighted: pair multiplicity
    // (number of shared orders) is the edge weight. 5 deterministic
    // rounds — integer-weight argmax with min-label tie-break as one
    // aggregate (no window); see graph/LabelPropagation.scala. The
    // oracle replays the identical rounds via generated chained CTEs.
    "q_label_prop" -> ((s, dir) =>
      lpaLabelsMemo(s, dir).orderBy("id")),

    // Adamic–Adar link prediction (graph/LinkPrediction.scala) riding
    // the FIRST-CLASS Ann.knnGraph operator — the scale-correct base
    // graph for common-neighbor scoring: out-degree is k BY
    // CONSTRUCTION (a co-occurrence graph's degrees grow with the
    // corpus; a kNN graph's don't), so wedge volume is ~n·k². The
    // deterministic vec_id < 300 slice keeps the exact variant bounded
    // at any sf (the production swap is Ann.knnGraphLsh, recall-gated
    // by q_knn_graph); knnGraph rounds cosines 6 before its heap so
    // ranks replay; pivots capped at 25 against in-degree hubs.
    "q_adamic_adar" -> ((s, dir) => {
      val knn = graft.llmdata.Ann.knnGraph(
          Tables.embeddings(s, dir).where(col("vec_id") < 300),
          "vec_id", "embedding", k = 5)
        .select(col("src").as("id_a"), col("dst").as("id_b"))
      graft.graph.LinkPrediction.adamicAdar(knn, k = 40,
        maxDegree = Some(25))
    }),

    // The full classic link-prediction score table (common neighbors /
    // Jaccard / Adamic–Adar / resource allocation / preferential
    // attachment — LinkPrediction.linkScores) on the SAME kNN graph:
    // one degree-capped wedge pass + two tiny degree joins. The
    // comparison table beside q_adamic_adar's single score.
    "q_link_scores" -> ((s, dir) => {
      val knn = graft.llmdata.Ann.knnGraph(
          Tables.embeddings(s, dir).where(col("vec_id") < 300),
          "vec_id", "embedding", k = 5)
        .select(col("src").as("id_a"), col("dst").as("id_b"))
      graft.graph.LinkPrediction.linkScores(knn, k = 40,
        maxDegree = Some(25))
    }),

    // Per-community Newman modularity of the LPA assignment — the
    // community-quality report logged next to the detection pass.
    // Integer internal/degree weights from the same symmetrized edge
    // frame; one quantized division at the end.
    "q_modularity" -> ((s, dir) =>
      graft.graph.LabelPropagation.modularityOn(coPurchaseSymMemo(s, dir),
          lpaLabelsMemo(s, dir))
        .orderBy("community")),

    // One Louvain phase-1 sweep over the LPA assignment (graph/
    // LabelPropagation.louvainRefine): each node argmaxes the integer
    // modularity-gain score over its neighbor communities, moves apply
    // synchronously. Same shared edge frame + memoized labels as
    // q_label_prop/q_modularity; the oracle recomputes the sweep from
    // the replayed LPA trajectory with a window-rank argmax — an
    // independent formulation of the same selection.
    "q_louvain_refine" -> ((s, dir) =>
      graft.graph.LabelPropagation.louvainRefine(coPurchaseSymMemo(s, dir),
          lpaLabelsMemo(s, dir))
        .orderBy("id")),

    // Full multi-level Louvain (graph/Louvain.scala): alternating-
    // direction strict-improvement sweeps to the detected fixpoint
    // (odd sweeps move toward smaller community ids, even toward
    // larger — simultaneous swaps structurally impossible), contract the
    // community graph (internal weight -> super-node self-loops),
    // refine again — 2 levels, sweep cap 4 per level. Same shared edge
    // frame; the oracle replays the ENTIRE fixed schedule (both
    // levels' sweeps + the contraction) as chained CTEs — the engine's
    // early fixpoint stop is exact because further sweeps provably
    // no-op (see Louvain.scala scaladoc).
    "q_louvain_full" -> ((s, dir) =>
      graft.graph.Louvain.louvainOn(coPurchaseSymMemo(s, dir),
          maxSweeps = 6, levels = 2)
        .orderBy("id")),

    // BFS hop distance from a seed set (graph/SeedDistance.scala) —
    // the crawl-depth label, relaxed over the SAME shared co-purchase
    // frame; 4 integer rounds replayed by chained CTEs, unreached
    // nodes null.
    "q_seed_distance" -> ((s, dir) => {
      val seeds = Tables.part(s, dir)
        .filter(col("p_partkey") <= 5).select(col("p_partkey"))
      graft.graph.SeedDistance.hopDistance(coPurchaseSymMemo(s, dir),
          "__s", "__t", seeds, rounds = 4)
        .orderBy("id")
    }),

    // Sampled-pivot betweenness centrality (graph/Betweenness.scala —
    // Brandes 2001 two-phase, Brandes-Pich pivot sampling): 2 pivots
    // over the shared co-purchase frame, integer path counts forward,
    // round-6 dependency handoffs backward — the whole two-phase
    // trajectory replays in chained CTEs. Per pivot O(depth·|E|) joins,
    // never a pair frame. (Round 13: trimmed 3 → 2 pivots — the gate
    // power is in the per-pivot two-phase trajectory plus the
    // cross-pivot accumulation, which two pivots exercise fully; the
    // third re-ran the same machinery for ~6 s of bench time.)
    "q_betweenness" -> ((s, dir) =>
      graft.graph.Betweenness.betweennessPivots(coPurchaseSymMemo(s, dir),
          pivots = Seq(1L, 2L), maxDepth = 4)
        .orderBy("node")),

    // Forward-backward pivot SCC (graph/Scc.scala — the
    // Fleischer-Hendrickson-Pinar parallel-SCC primitive) on the
    // net-dominance direction graph derived from the trade flows
    // (keep s→t iff w(s,t) > w(t,s) — the deterministic sparsifier
    // that leaves real asymmetric cycles): two SeedDistance BFS sweeps
    // from nation 0, SCC = fwd ∩ bwd reach, integer hops replayed in
    // chained CTEs.
    "q_scc_pivot" -> ((s, dir) => {
      val de = graft.graph.Scc.dominanceEdges(tradeEdgesMemo(s, dir),
        "src", "dst", "w")
      graft.graph.Scc.pivotScc(de, "src", "dst", pivot = 0L, rounds = 8)
        .orderBy("id")
    }),

    // Weighted single-source shortest paths by delta-stepping
    // (graph/DeltaStepping.scala — Meyer–Sanders Δ-stepping): the trade
    // graph with integer inverse-volume costs (rare trade links are
    // expensive to traverse, len = max(1, ⌊10000/w⌋)), source nation 0.
    // Buckets settle in order; light edges relax iteratively inside a
    // bucket, heavy once at settle. Δ = 4096 keeps the dense 25-node
    // gate graph to a handful of bucket phases (Δ tunes phase count vs
    // inner-loop work and never changes the result). Exact SSSP is
    // schedule-independent, so the oracle verifies the integer
    // fixpoint with chained Bellman–Ford relaxation rounds.
    // r14 optimization: served as the seed-0 slice of the SHARED
    // 3-pivot batched SSSP (tradeWeightedDistMemo) — identical
    // distances (exact SSSP is schedule-independent), one bucketed
    // job chain instead of three across the q_weighted_* family.
    "q_weighted_sssp" -> ((s, dir) =>
      tradeWeightedDistMemo(s, dir)
        .where(col("seed") === 0L)
        .select(col("id"), col("dist"))
        .orderBy("id")),

    // Weighted betweenness centrality (graph/Betweenness.scala
    // weightedBetweennessPivots): Brandes over the exact Δ-stepping
    // distance field — the r13 weighted-centrality gap (hop-BFS
    // Brandes ranks a latency/cost graph wrong whenever a cheap
    // multi-hop route beats an expensive direct edge). Same
    // inverse-volume trade lengths as q_weighted_sssp, 2 pivots; the
    // shortest-path DAG is the pure equality d(s)+ℓ=d(t) on exact
    // integer distances, σ and the linear b_k dependency unrolling
    // replay as chained CTEs on Bellman–Ford distances (exact SSSP is
    // schedule-independent, so the oracle never mirrors the bucket
    // schedule).
    // r14 optimization: pivots batched through pivot-keyed frames
    // (Betweenness.weightedBetweennessOnDists) over the SHARED 3-pivot
    // SSSP memo, sliced to this gate's pivot set {0, 1}.
    "q_weighted_betweenness" -> ((s, dir) => {
      val e = tradeWeightedEdges(s, dir).select(
        col("src").cast("long").as("__s"),
        col("dst").cast("long").as("__t"),
        col("len").cast("long").as("__l"))
      graft.graph.Betweenness.weightedBetweennessOnDists(e,
          tradeWeightedDistMemo(s, dir).where(col("seed").isin(0L, 1L)),
          maxHops = 6)
        .orderBy("node")
    }),

    // Pivot-sampled weighted harmonic centrality (Boldi–Vigna 2014;
    // Betweenness.weightedHarmonicPivots): Σ_pivots 1/d(p,v) on the
    // exact Δ-stepping distances — the principled closeness on
    // directed/disconnected graphs (unreached pairs contribute 0, no
    // ∞ to dodge). 3 pivots on the inverse-volume trade graph; the
    // reciprocal sum goes through ExactAgg so accumulation order can't
    // flip a round-6 boundary; oracle = chained Bellman–Ford distances
    // + the same micro-unit readout.
    // r14 optimization: pure readout over the SHARED 3-pivot SSSP memo
    // (its pivot set IS this gate's).
    "q_weighted_harmonic" -> ((s, dir) =>
      graft.graph.Betweenness.weightedHarmonicOnDists(
          tradeWeightedDistMemo(s, dir))
        .orderBy("node")),

    // HyperBall / ANF neighborhood function (graph/HyperBall.scala —
    // Boldi–Vigna HyperANF): per-node HLL sketches PACKED into one
    // array<int> row per node, max-merged along the shared co-purchase
    // frame per round (|E|+|V| packed rows per round — no 2^p row
    // multiplier, never a pair frame), integer-power-sum estimates,
    // growth fraction + 90%-effective-diameter flag — the web-scale
    // reachability readout, trajectory replayed exactly.
    "q_neighborhood_function" -> ((s, dir) =>
      graft.graph.HyperBall.neighborhoodFunction(
          coPurchaseSymMemo(s, dir), rounds = 4, p = 6)
        .orderBy("r")),

    // The same sketch rounds on a bounded slice, gated against the
    // EXACT per-round BFS ball totals (pair expansion — slice-only
    // path) with the deterministic relative error emitted per round —
    // the q_hll_distinct estimate-vs-truth convention.
    "q_hyperball_truth" -> ((s, dir) => {
      val sym = coPurchaseSymMemo(s, dir)
        .filter(col("__s") <= 200 && col("__t") <= 200)
      val est = graft.graph.HyperBall.neighborhoodFunction(sym,
        rounds = 3, p = 6)
      val truth = graft.graph.HyperBall.exactNeighborhoodFunction(sym,
        rounds = 3)
      est.join(broadcast(truth), Seq("r"))
        .select(col("r"), col("nf"), col("nf_true"),
          round(abs(col("nf") - col("nf_true")) / col("nf_true"), 6)
            .as("rel_err"))
        .orderBy("r")
    }),

    // Deterministic uniform random walks (graph/RandomWalks.scala —
    // DeepWalk corpus generation): 2 walks × 4 hops per seed node over
    // the SAME shared co-purchase frame, every hop an md5-draw over the
    // ascending-id neighbor ranking — the whole trajectory set replays
    // in DuckDB's own md5/row_number arithmetic. Per hop the engine
    // moves O(|walkers|) rows through two node-keyed equi-joins.
    "q_random_walks" -> ((s, dir) => {
      walksMemo(s, dir)
        .orderBy("walk_id", "step")
    }),

    // Walk-corpus skip-gram pairs — the full graph-embedding
    // training-set pipeline in one plan: the q_random_walks
    // trajectories re-sequenced per walker (array_sort over a
    // walk-sized collect_list) feeding SkipGram.sequencePositives —
    // DeepWalk's training stage, (center node, context node) pairs.
    // Oracle replays the walks AND the window arithmetic on the
    // list form.
    "q_walk_skipgram" -> ((s, dir) => {
      val walks = walksMemo(s, dir)
      val seqs = walks
        .groupBy("walk_id")
        .agg(array_sort(collect_list(struct(col("step"), col("node"))))
          .as("__st"))
        .select(col("walk_id"),
          transform(col("__st"), s => s.getField("node")).as("__seq"))
      graft.llmdata.SkipGram.sequencePositives(seqs, "__seq", "walk_id",
          window = 2)
        .orderBy("doc", "pos", "ctx_pos")
    }),

    // The GRAPH-embedding loop end-to-end in ONE gate: DeepWalk corpus
    // over the shared co-purchase frame → distance-weighted
    // co-occurrence over the walk sequences → GloVe ALS factors — the
    // node-embedding training a link pipeline runs, every stage
    // (md5-draw hops, window pairs, round-6 ALS handoffs) replayed by
    // one chained-CTE oracle.
    "q_glove_walks" -> ((s, dir) => {
      val walks = walksMemo(s, dir)
      val seqs = walks
        .groupBy("walk_id")
        .agg(array_sort(collect_list(struct(col("step"), col("node"))))
          .as("__st"))
        .select(col("walk_id"),
          transform(col("__st"), x => x.getField("node")).as("__seq"))
      graft.llmdata.Glove.fit(graft.llmdata.SkipGram
          .sequenceCooccurrence(seqs, "__seq", "walk_id", window = 2),
          d = 2)
        .orderBy("role", "token")
    }),

    // node2vec biased walks (RandomWalks.biasedWalksOn): hop 1
    // uniform, hops 2+ score each neighbor by the second-order
    // return/local/explore bias (p=4, q=0.25 — strongly exploratory)
    // as pre-scaled INTEGER weights; the per-walker cumulative pick
    // replays in SQL windows. Same shared co-purchase frame.
    "q_node2vec_walks" -> ((s, dir) => {
      val sym = coPurchaseSymMemo(s, dir)
      val seeds = sym.select(col("__s")).distinct()
        .filter(col("__s") <= 20).select(col("__s").as("__n"))
      graft.graph.RandomWalks.biasedWalksOn(sym, seeds,
          walksPerNode = 2, steps = 4, p = 4.0, q = 0.25, salt = "n2v")
        .orderBy("walk_id", "step")
    }),

    // Z-order (Morton) layout: interleave (l_partkey, l_suppkey) bits
    // and report the per-quad-tree-cell bounding boxes — the min/max
    // footer stats files would carry under this layout, i.e. the
    // multi-dimensional file-skipping evidence. Pure scan-fused
    // integer arithmetic; see relational/Layout.scala.
    "q_zorder_layout" -> ((s, dir) =>
      Layout.zOrderBucketStats(Tables.lineitem(s, dir),
          Seq("l_partkey", "l_suppkey"), bits = 16, bucketBits = 6)
        .orderBy("bucket")),

    // Exact grouped percentiles (linear interpolation — the same
    // definition DuckDB's quantile_cont uses). Exact percentile is the
    // small-group path; at 100 TB switch to percentile_approx (the
    // GK sketch Quantiles.scala wraps) — gated separately there.
    // exact order statistics are accumulation-order-independent, so the
    // heavy percentile buffers can fan out across cores (r14; plain
    // double-mean aggregates like q_robust_stats' winsorized means stay
    // on the scan partitioning — fanning those out would introduce
    // merge-order nondeterminism into a round-6 gate)
    "q_percentiles" -> ((s, dir) =>
      graft.core.FanOut.byKey(Tables.lineitem(s, dir), "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("price_p90"))
        .orderBy("l_returnflag")),

    // Robust statistics per group: median, MAD, 5%-winsorized mean,
    // 10%-trimmed mean — quantile thresholds from one exact-percentile
    // aggregate (|groups| rows) broadcast back, then one clip/filter
    // aggregate. The outlier-resistant profile a quality pipeline
    // monitors where mean/std lie.
    "q_robust_stats" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // one percentile buffer per group for all five cut points (the
      // array form), not five independent sort buffers
      val qs = li.groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, array(0.05, 0.10, 0.50, 0.90, 0.95))")
          .as("__q"))
        .select(col("l_returnflag"),
          element_at(col("__q"), 1).as("__p05"),
          element_at(col("__q"), 2).as("__p10"),
          element_at(col("__q"), 3).as("__med"),
          element_at(col("__q"), 4).as("__p90"),
          element_at(col("__q"), 5).as("__p95"))
      li.join(broadcast(qs), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(
          round(first(col("__med")), 6).as("median"),
          round(expr("percentile(abs(l_extendedprice - __med), 0.5)"), 6)
            .as("mad"),
          round(avg(least(greatest(col("l_extendedprice"), col("__p05")),
            col("__p95"))), 6).as("winsorized_mean"),
          round(avg(when(col("l_extendedprice").between(
            col("__p10"), col("__p90")), col("l_extendedprice"))), 6)
            .as("trimmed_mean"))
        .orderBy("l_returnflag")
    }),

    // Correlation / covariance / dispersion aggregates (one-pass
    // co-moment accumulation both engines; round(6) absorbs merge-order
    // ulps).
    "q_corr_stats" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_discount")), 6).as("var_disc"))
        .orderBy("l_returnflag")),

    // Interval-overlap join: click/view intervals [us, us+dur] on the
    // same user, paired iff they overlap — bucket-explode equi-join
    // with emit-at-first-overlap-bucket dedup (no theta-join, no
    // distinct). The oracle is the naive overlap predicate join.
    "q_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("dur", floor(col("value") * lit(1.0e8)).cast("long"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("a_id"),
          col("us").as("a_s"), (col("us") + col("dur")).as("a_e"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("b_id"),
          col("us").as("b_s"), (col("us") + col("dur")).as("b_e"))
      Temporal.intervalOverlapPairs(clicks, views, "a_s", "a_e",
          "b_s", "b_e", bucketWidth = 1L << 36,
          keys = Seq(("user_id", "v_user")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("a_e"), col("b_e"))
            - greatest(col("a_s"), col("b_s"))).as("overlap_us"))
        .orderBy("user_id")
    }),

    // Salted skew join: identical results to the plain join (the salt
    // only routes rows), gated against the plain-join oracle.
    "q_salted_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 150000)
        .select("o_orderkey", "o_orderpriority")
      SkewJoin.saltedInnerJoin(Tables.lineitem(s, dir), o,
          "l_orderkey", "o_orderkey", saltFactor = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Pivot: per-user value totals spread across event types (explicit
    // pivot values keep the plan a single pass, no distinct-scan).
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum("value"), 4))
        .orderBy("user_id")),

    // CUBE grouping sets over orders status × priority.
    "q_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(round(sum("o_totalprice"), 4).as("total"),
          count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))),

    // Explicit GROUPING SETS (neither rollup nor cube) + grouping_id —
    // Spark's bit convention (1 = column aggregated away) matches
    // SQL-standard GROUPING(a, b).
    "q_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // Column profiling (the describe()/summary() surface): count, mean,
    // sample std, min, max per numeric column in long form — ONE
    // aggregate pass over the table, melted via unpivot. Exact oracle
    // (no approx percentiles here; those are gated by q_percentiles).
    "q_column_profile" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).cast("double").as(s"${c}__count"),
        avg(col(c)).as(s"${c}__mean"),
        stddev_samp(col(c)).as(s"${c}__std"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max")))
      Tables.lineitem(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .unpivot(Array.empty[Column], "metric", "v")
        .select(split(col("metric"), "__").getItem(0).as("col_name"),
          split(col("metric"), "__").getItem(1).as("stat"),
          round(col("v"), 4).as("value"))
        .orderBy("col_name", "stat")
    }),

    // Unpivot (wide → long): four measure columns melt into
    // (metric, val) pairs — one scan, a Generate per row, no shuffle.
    "q_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          round(col("val"), 4).as("val"))
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // Blocked fuzzy self-join (entity resolution) on the SCALE-SAFE
    // path: candidates from blockingUnion over the order-1 DELETION
    // NEIGHBORHOOD of (nation, name) — lev(a,b) <= 1 implies the two
    // neighborhoods intersect, so recall is exact BY THEOREM, and
    // block sizes are bounded by the true-match cluster size (~90
    // parent strings share a deletion variant) instead of growing
    // with the corpus the way nation-only blocks did (round-8
    // SCALING exponent 1.571). Fan-out is ×(len+1) of three narrow
    // columns — linear. Oracle unchanged: the semantic result (same
    // nation, distance <= 1) is blocking-scheme-free.
    "q_fuzzy_join" -> ((s, dir) =>
      EntityResolution.fuzzyPairsUnion(
        Tables.customer(s, dir), "c_custkey", "c_name",
        rules = Seq(transform(
          EntityResolution.deletionVariants(col("c_name")),
          v => concat(col("c_nationkey").cast("string"), lit(":"), v))),
        maxDistance = 1)
        .orderBy("id_a", "id_b")),

    // Jaro–Winkler scored pairs (the FS-tradition name comparator as a
    // native codegen expression, functions/JaroWinkler.scala) over
    // blockingUnion candidates keyed on the 17-char name prefix —
    // digit-prefix blocks have SIZE bounded by construction (≤10 ids
    // share a prefix) while block COUNT grows with the table, so
    // candidate volume stays linear at any sf (the r8 lesson: never a
    // fixed-cardinality key whose blocks grow with the corpus). Scores
    // rounded to 6 BEFORE thresholding; DuckDB's own
    // jaro_winkler_similarity replays them bit-for-bit (byte
    // semantics, strict 0.7 boost threshold — fuzz-pinned).
    "q_jaro_winkler" -> ((s, dir) =>
      EntityResolution.jaroWinklerPairs(
        Tables.customer(s, dir), "c_custkey", "c_name",
        rules = Seq(substring(col("c_name"), 1, 17)),
        minSim = 0.9)
        .orderBy("id_a", "id_b")),

    // fuzzyPairs (single-key blocking) forced onto the LARGE-table
    // path: both sides shuffle on the block key as a plain equi-join,
    // zero driver-side broadcast — the form fuzzyPairs' auto-default
    // picks once the corpus projection outgrows the broadcast
    // threshold. This gate pins ROUTING equivalence for the classic
    // single-key operator (same oracle as q_fuzzy_join: routing must
    // not change the answer); the scale-safe DEFAULT gate is
    // q_fuzzy_join above, on the deletion-neighborhood blockingUnion.
    "q_fuzzy_join_shuffled" -> ((s, dir) =>
      EntityResolution.fuzzyPairs(
        Tables.customer(s, dir), "c_custkey", "c_name",
        col("c_nationkey"), maxDistance = 1,
        broadcastBuild = Some(false))
        .orderBy("id_a", "id_b")),

    // SCD2 validity intervals: per-user event_type change history —
    // gaps-and-islands change flags, one (user, segment) aggregate,
    // lead over the segment frame for valid_to. Timestamps rendered
    // at µs precision so both engines hash the same strings.
    "q_scd2" -> ((s, dir) =>
      Temporal.scd2History(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("valid_to"),
          col("n_events"))
        .orderBy("user_id", "valid_from")),

    // Funnel conversion: first signup per user anchors a 7-day window;
    // converted = any purchase inside it. Two filtered aggregates + one
    // user-keyed join — no window, no corpus sort; µs-exact interval
    // arithmetic (unix_micros ⟷ epoch_us).
    "q_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("__su"))
      val purchase = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("__pt"))
      val perUser = signup.join(purchase, Seq("user_id"), "left")
        .groupBy(col("user_id"))
        .agg(max(when(
          unix_micros(col("__pt")) >= unix_micros(col("__su")) &&
            unix_micros(col("__pt")) - unix_micros(col("__su")) <=
              lit(7L * 86400L * 1000000L),
          1).otherwise(0)).as("__conv"))
      perUser.agg(count(lit(1)).as("n_signup_users"),
        sum(col("__conv")).cast("long").as("n_converted"))
        .withColumn("conversion_rate",
          round(col("n_converted").cast("double") / col("n_signup_users"), 6))
    }),

    // Multi-touch attribution (relational/Attribution.scala): per
    // channel the first-touch / last-touch / linear credit over
    // conversion groups — one per-user cumsum window (the operator's
    // semantics), then per-(user, group) struct min/max aggregates.
    "q_attribution" -> ((s, dir) =>
      Attribution.multiTouch(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id", col("event_type") === "purchase")
        .orderBy("channel")),

    // Pairwise association rules on order baskets (relational/
    // Association.scala): support ≥ 3 pairs ranked by lift, both
    // confidences — integer supports, fixed-order metric arithmetic.
    "q_assoc_rules" -> ((s, dir) =>
      Association.pairRules(Tables.lineitem(s, dir),
        "l_orderkey", "l_partkey", minSupport = 3, k = 30)),

    // Single change-point on the daily event-count series (Temporal.
    // changePoint): two-segment SSE scan from integer prefix sums over
    // the ≤|days| frame — the Stump prefix pattern on the time axis.
    "q_changepoint" -> ((s, dir) =>
      Temporal.changePoint(Tables.events(s, dir), "ts")),

    // Holt double exponential smoothing on the same daily series
    // (Temporal.holtSmoothing): level/trend quantized per step, the
    // recursion replayed by a recursive CTE.
    "q_holt_forecast" -> ((s, dir) =>
      Temporal.holtSmoothing(Tables.events(s, dir), "ts")
        .orderBy("day")),

    // Rolling-origin backtest of the Holt forecaster (Tashman IJF'00
    // design, Temporal.forecastBacktest): per (origin, horizon) cell
    // the out-of-sample forecast with its APE and MASE-style scaled
    // error (|err| / in-sample naive MAE — Hyndman–Koehler IJF'06).
    // The evaluation harness that belongs beside q_holt_forecast: a
    // forecaster nobody backtested is not an operator. EXACT oracle —
    // one recursive CTE carrying (origin, j, level, trend) replays
    // every origin's quantized fold.
    "q_forecast_backtest" -> ((s, dir) =>
      Temporal.forecastBacktest(Tables.events(s, dir), "ts")
        .orderBy("origin_day", "h")),

    // Holt–Winters additive triple smoothing (Temporal.holtWinters):
    // the weekly-seasonal upgrade — the recursive-CTE oracle carries
    // the 7-slot seasonal wheel as 7 rotating columns.
    "q_holt_winters" -> ((s, dir) =>
      Temporal.holtWinters(Tables.events(s, dir), "ts")
        .orderBy("day")),

    // Theil–Sen robust slope + Mann–Kendall trend test
    // (Temporal.robustTrend): pairwise-slope median + tie-corrected S
    // over the ≤|days| frame only.
    "q_trend_robust" -> ((s, dir) =>
      Temporal.robustTrend(Tables.events(s, dir), "ts")),

    // Two-sided standardized CUSUM chart (Temporal.cusumChart):
    // sequential drift alarms next to the retrospective q_changepoint;
    // recursive-CTE replay of the quantized (S⁺, S⁻) walk.
    "q_cusum" -> ((s, dir) =>
      Temporal.cusumChart(Tables.events(s, dir), "ts")
        .orderBy("day")),

    // Retention cohorts: users grouped by first-activity ISO week;
    // retention_k = fraction active in cohort-week + k. Two aggregates
    // and a join on the user key; the cohort matrix is ≤ |weeks|² rows.
    "q_retention_cohorts" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("__cw"))
      val active = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("__w")).distinct()
      val sizes = cohort.groupBy(col("__cw")).agg(count(lit(1)).as("n_cohort"))
      cohort.join(active, Seq("user_id"))
        .withColumn("k", (datediff(col("__w"), col("__cw")) / 7).cast("int"))
        .groupBy(col("__cw"), col("k"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, Seq("__cw"))
        .select(date_format(col("__cw"), "yyyy-MM-dd").as("cohort_week"),
          col("k"), col("n_active"), col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 6)
            .as("retention"))
        .orderBy("cohort_week", "k")
    }),

    // Hourly resample + forward fill per user (pandas resample.ffill):
    // dense per-user hour grid, event counts, last-observation carry —
    // per-key grid windows only, the corpus never globally sorts.
    "q_resample_ffill" -> ((s, dir) =>
      Temporal.resampleHourlyFfill(Tables.events(s, dir),
        "user_id", "ts", "value", "event_id")
        .orderBy("user_id", "hour")),

    // SPARSE resample — the 100 TB path the dense gate's scaladoc
    // prescribes for high-cardinality keys: scd2History validity
    // intervals (O(#changes) rows) + one backward as-of join against
    // probe instants, instead of materializing the per-key hour grid.
    // Probes: 5 per user at h0 + k·(spanHours div 4) hours (exact
    // integer-µs arithmetic, k kept as a column so degenerate spans
    // stay distinct rows); the as-of ordinate is the probe hour's END
    // (h+1h−1µs), matching the dense grid's "last value at-or-before
    // end of hour" row semantics. The ORACLE builds the DENSE grid and
    // samples it at the same probes — the gate is the semantic
    // equivalence proof that the sparse formulation answers any grid
    // lookup. Output is Θ(5·|users|): linear in keys, independent of
    // span — the scale contract q_resample_ffill can't make.
    "q_resample_sparse" -> ((s, dir) => {
      val hourUs = 3600000000L
      val ev = Tables.events(s, dir)
      val intervals = Temporal.scd2History(ev, "user_id", "ts", "value",
          "event_id")
        // zero-width intervals (same-µs value flips) contain no instant
        // and would tie on valid_from, making the as-of pick arbitrary;
        // after dropping them valid_from is unique per key, so the
        // backward as-of needs no tiebreak
        .where(col("valid_to").isNull
          || col("valid_to") =!= col("valid_from"))
        .withColumn("__vfus", unix_micros(col("valid_from")))
      val probes = ev.groupBy(col("user_id"))
        .agg(unix_micros(min(date_trunc("hour", col("ts")))).as("__h0us"),
          unix_micros(max(date_trunc("hour", col("ts")))).as("__h1us"))
        .select(col("user_id"),
          explode(sequence(lit(0), lit(4))).as("k"),
          col("__h0us"), col("__h1us"))
        .withColumn("__stepH",
          floor(((col("__h1us") - col("__h0us")) / lit(hourUs)) / lit(4.0))
            .cast("long"))
        .withColumn("__pus",
          col("__h0us") + col("k") * col("__stepH") * lit(hourUs))
        .withColumn("__pend", col("__pus") + lit(hourUs - 1L))
        .select(col("user_id"), col("k"), col("__pus"), col("__pend"))
      Temporal.asofJoin(probes, intervals, Seq("user_id"),
          leftOrd = "__pend", rightOrd = "__vfus",
          rightPayload = Seq("value"))
        .select(col("user_id"), col("k"),
          date_format(timestamp_micros(col("__pus")), "yyyy-MM-dd HH")
            .as("hour"),
          col("asof.value").as("value_ffill"))
        .orderBy("user_id", "k")
    }),

    // Exponential-decay-weighted aggregate (7-day half-life anchored at
    // the global max event time): per-user recency-weighted value mass —
    // one scalar subquery + one hash aggregate, the streaming-decay
    // batch analog.
    "q_decay_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val tmax = ev.agg(max(col("ts")).as("__tmax"))
      // µs-exact age (unix_timestamp would floor to seconds and
      // diverge from the oracle's epoch_us)
      val ageDays = (unix_micros(col("__tmax")) - unix_micros(col("ts")))
        .cast("double") / lit(86400.0e6)
      ev.crossJoin(broadcast(tmax))
        .groupBy(col("user_id"))
        .agg(round(sum(col("value") * exp(lit(-math.log(2) / 7.0) * ageDays)), 4)
          .as("decayed_value"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    })
  )

  /** Generated PageRank oracle: the full 10-iteration trajectory as
    * chained CTEs, each handoff quantized exactly like the Spark loop
    * (graph.PageRank). Interpolated constants are the Scala-computed
    * doubles (shortest-roundtrip decimals CAST to DOUBLE), so both
    * engines run the identical arithmetic on the identical values.
    */
  private def pageRankOracleSql(iters: Int = 10, damping: Double = 0.85,
      q: Int = 10): String = {
    val oneMinusD = 1.0 - damping
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT ew.t, sum(ew.frac * $p.rank) AS m
         |       FROM ew JOIN $p ON $p.n = ew.s GROUP BY ew.t),
         |d$i AS MATERIALIZED (SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm
         |        FROM $p WHERE n NOT IN (SELECT s FROM outw)),
         |r$i AS MATERIALIZED (SELECT nodes.n,
         |         round(CAST($oneMinusD AS DOUBLE) / nn.cnt
         |           + CAST($damping AS DOUBLE) *
         |             (coalesce(c$i.m, CAST(0 AS DOUBLE)) + d$i.dm / nn.cnt),
         |           $q) AS rank
         |        FROM nodes LEFT JOIN c$i ON c$i.t = nodes.n
         |        CROSS JOIN nn CROSS JOIN d$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT c.c_nationkey AS s, su.s_nationkey AS t,
       |             CAST(count(*) AS BIGINT) AS w
       |           FROM lineitem l
       |           JOIN orders o ON l.l_orderkey = o.o_orderkey
       |           JOIN customer c ON o.o_custkey = c.c_custkey
       |           JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |           GROUP BY 1, 2),
       |outw AS MATERIALIZED (SELECT s, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY s),
       |ew AS MATERIALIZED (SELECT s, t, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS frac
       |       FROM e JOIN outw USING (s)),
       |nodes AS MATERIALIZED (SELECT DISTINCT n FROM (SELECT s AS n FROM e
       |          UNION ALL SELECT t FROM e)),
       |nn AS MATERIALIZED (SELECT count(*) AS cnt FROM nodes),
       |r0 AS MATERIALIZED (SELECT n, round(CAST(1 AS DOUBLE) / nn.cnt, $q) AS rank
       |       FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT n AS node, round(rank, 6) AS rank FROM r$iters
       |ORDER BY node""".stripMargin
  }

  /** Personalized-PageRank mirror: identical trade-graph CTEs, teleport
    * vector 1/|S| on seed nations (< 5) else 0, dangling mass restarts
    * ∝ the seed vector — the same quantized trajectory the Spark loop
    * checkpoints (graph/PageRank.personalizedPageRank).
    */
  private def pprOracleSql(iters: Int = 10, damping: Double = 0.85,
      q: Int = 10): String = {
    val oneMinusD = 1.0 - damping
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT ew.t, sum(ew.frac * $p.rank) AS m
         |       FROM ew JOIN $p ON $p.n = ew.s GROUP BY ew.t),
         |d$i AS MATERIALIZED (SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm
         |        FROM $p WHERE n NOT IN (SELECT s FROM outw)),
         |r$i AS MATERIALIZED (SELECT sv.n,
         |         round(CAST($oneMinusD AS DOUBLE) * sv.v
         |           + CAST($damping AS DOUBLE) *
         |             (coalesce(c$i.m, CAST(0 AS DOUBLE)) + d$i.dm * sv.v),
         |           $q) AS rank
         |        FROM sv LEFT JOIN c$i ON c$i.t = sv.n
         |        CROSS JOIN d$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT c.c_nationkey AS s, su.s_nationkey AS t,
       |             CAST(count(*) AS BIGINT) AS w
       |           FROM lineitem l
       |           JOIN orders o ON l.l_orderkey = o.o_orderkey
       |           JOIN customer c ON o.o_custkey = c.c_custkey
       |           JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |           GROUP BY 1, 2),
       |outw AS MATERIALIZED (SELECT s, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY s),
       |ew AS MATERIALIZED (SELECT s, t, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS frac
       |       FROM e JOIN outw USING (s)),
       |nodes AS MATERIALIZED (SELECT DISTINCT n FROM (SELECT s AS n FROM e
       |          UNION ALL SELECT t FROM e)),
       |ns AS MATERIALIZED (SELECT count(*) AS c FROM nodes WHERE n < 5),
       |sv AS MATERIALIZED (SELECT nodes.n,
       |       CASE WHEN nodes.n < 5 THEN CAST(1 AS DOUBLE) / ns.c
       |            ELSE CAST(0 AS DOUBLE) END AS v
       |       FROM nodes CROSS JOIN ns),
       |r0 AS MATERIALIZED (SELECT n, round(v, $q) AS rank FROM sv),
       |$steps
       |SELECT n AS node, round(rank, 6) AS rank FROM r$iters
       |ORDER BY node""".stripMargin
  }

  /** Push-PPR mirror: the identical batch-push (p, r) trajectory over
    * the trade graph — per round, the frontier CTE (degree-scaled
    * residual threshold), the pushed-mass aggregate, the dangling
    * return to the seed vector, and the quantized state handoff
    * (graph/PageRank.pushPersonalizedPageRank). Constants interpolate
    * as Scala-printed doubles so both engines compute on identical
    * IEEE values.
    */
  private def pprPushOracleSql(rounds: Int = 6, alpha: Double = 0.15,
      eps: Double = 1e-6, q: Int = 10): String = {
    val oneMinusA = (1.0 - alpha).toString
    val steps = (1 to rounds).map { i =>
      val p = s"st${i - 1}"
      s"""f$i AS MATERIALIZED (SELECT st.n, st.r FROM $p st
         |    LEFT JOIN outw ON outw.s = st.n
         |    WHERE st.r > 0 AND st.r >= CAST($eps AS DOUBLE)
         |      * coalesce(CAST(outw.ow AS DOUBLE), CAST(0 AS DOUBLE))),
         |c$i AS MATERIALIZED (SELECT ew.t,
         |    sum(CAST($oneMinusA AS DOUBLE) * f.r * ew.frac) AS m
         |    FROM f$i f JOIN ew ON ew.s = f.n GROUP BY ew.t),
         |d$i AS MATERIALIZED (SELECT
         |    coalesce(sum(CAST($oneMinusA AS DOUBLE) * r),
         |      CAST(0 AS DOUBLE)) AS dm
         |    FROM f$i WHERE n NOT IN (SELECT s FROM outw)),
         |st$i AS MATERIALIZED (SELECT sv.n,
         |    round(CASE WHEN f.n IS NOT NULL
         |      THEN st.p + CAST($alpha AS DOUBLE) * st.r
         |      ELSE st.p END, $q) AS p,
         |    round(CASE WHEN f.n IS NOT NULL THEN CAST(0 AS DOUBLE)
         |        ELSE st.r END
         |      + coalesce(c.m, CAST(0 AS DOUBLE)) + d.dm * sv.v, $q) AS r
         |    FROM sv JOIN $p st ON st.n = sv.n
         |    LEFT JOIN f$i f ON f.n = sv.n
         |    LEFT JOIN c$i c ON c.t = sv.n
         |    CROSS JOIN d$i d)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT c.c_nationkey AS s, su.s_nationkey AS t,
       |             CAST(count(*) AS BIGINT) AS w
       |           FROM lineitem l
       |           JOIN orders o ON l.l_orderkey = o.o_orderkey
       |           JOIN customer c ON o.o_custkey = c.c_custkey
       |           JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |           GROUP BY 1, 2),
       |outw AS MATERIALIZED (SELECT s, CAST(sum(CAST(w AS DOUBLE)) AS DOUBLE) AS ow
       |       FROM e GROUP BY s),
       |ew AS MATERIALIZED (SELECT s, t, CAST(w AS DOUBLE) / ow AS frac
       |       FROM e JOIN outw USING (s)),
       |nodes AS MATERIALIZED (SELECT DISTINCT n FROM (SELECT s AS n FROM e
       |          UNION ALL SELECT t FROM e)),
       |ns AS MATERIALIZED (SELECT count(*) AS c FROM nodes WHERE n < 5),
       |sv AS MATERIALIZED (SELECT nodes.n,
       |       CASE WHEN nodes.n < 5 THEN CAST(1 AS DOUBLE) / ns.c
       |            ELSE CAST(0 AS DOUBLE) END AS v
       |       FROM nodes CROSS JOIN ns),
       |st0 AS MATERIALIZED (SELECT n, CAST(0 AS DOUBLE) AS p,
       |       round(v, $q) AS r FROM sv),
       |$steps
       |SELECT n AS node, round(p, 6) AS rank_push, round(r, 6) AS residual
       |FROM st$rounds ORDER BY node""".stripMargin
  }

  /** Louvain-sweep mirror composed over the SAME replayed LPA
    * trajectory: integer degree/total/into-community sums off the
    * symmetrized frame, the 2m·k_{i,C} − k_i·(tot_C − k_i·[C=A]) score
    * with the count products in DOUBLE (matching the Spark side's
    * overflow-safe cast), argmax as a window rank vs the Spark side's
    * min-struct aggregate.
    */
  private def louvainRefineOracleSql(iters: Int = 5): String =
    s"""WITH ${labelPropCtes(iters)},
       |lab AS MATERIALIZED (SELECT n AS id, l AS c FROM l$iters),
       |deg AS (SELECT s, CAST(sum(w) AS BIGINT) AS k FROM e GROUP BY s),
       |m2 AS (SELECT CAST(sum(w) AS BIGINT) AS mm FROM e),
       |tot AS (SELECT c, CAST(sum(k) AS BIGINT) AS tot
       |  FROM deg JOIN lab ON lab.id = deg.s GROUP BY c),
       |kic AS (SELECT e.s, lt.c, CAST(sum(e.w) AS BIGINT) AS kic
       |  FROM e JOIN lab lt ON lt.id = e.t GROUP BY e.s, lt.c),
       |cand AS (SELECT s, c, CAST(sum(kic) AS BIGINT) AS kic FROM (
       |    SELECT s, c, kic FROM kic
       |    UNION ALL SELECT id AS s, c, CAST(0 AS BIGINT) FROM lab)
       |  GROUP BY s, c),
       |sc AS (SELECT cand.s, cand.c,
       |    CAST(mm AS DOUBLE) * cand.kic
       |      - CAST(dg.k AS DOUBLE) * (t.tot
       |        - CASE WHEN cand.c = la.c THEN dg.k ELSE 0 END) AS score
       |  FROM cand JOIN lab la ON la.id = cand.s
       |  JOIN deg dg ON dg.s = cand.s
       |  JOIN tot t ON t.c = cand.c
       |  CROSS JOIN m2),
       |pick AS (SELECT s, c FROM (SELECT s, c, row_number() OVER (
       |    PARTITION BY s ORDER BY score DESC, c ASC) AS rk FROM sc)
       |  WHERE rk = 1)
       |SELECT s AS id, c AS community FROM pick ORDER BY id""".stripMargin

  /** Sweep CTEs for one Louvain level (mirrors Louvain.sweep): per
    * sweep i the community totals, i's weight into neighbor
    * communities (own community as a weight-0 candidate), the
    * 2m·k_{i,C} − k_i·(tot_C − k_i·[C=A]) score with count products in
    * DOUBLE, argmax as a window rank (vs the Spark side's min-struct
    * aggregate — independent formulations of the same selection), and
    * the guarded apply: candidates restricted to the sweep's direction
    * (odd sweeps toward smaller community ids, even toward larger),
    * move only on a STRICTLY better-than-stay best candidate.
    */
  private def louvainSweepCtes(lv: Int, e: String, deg: String,
      sweeps: Int): String =
    (1 to sweeps).map { i =>
      val prev = s"a${lv}_${i - 1}"
      val dir = if (i % 2 == 1) "<" else ">"
      s"""t${lv}_$i AS MATERIALIZED (SELECT a.c AS c,
         |    CAST(sum(d.k) AS BIGINT) AS tot
         |  FROM $deg d JOIN $prev a ON a.n = d.s GROUP BY a.c),
         |k${lv}_$i AS MATERIALIZED (SELECT e.s, lt.c,
         |    CAST(sum(e.w) AS BIGINT) AS kic
         |  FROM $e e JOIN $prev lt ON lt.n = e.t GROUP BY e.s, lt.c),
         |c${lv}_$i AS MATERIALIZED (SELECT s, c,
         |    CAST(sum(kic) AS BIGINT) AS kic FROM (
         |      SELECT s, c, kic FROM k${lv}_$i
         |      UNION ALL SELECT n AS s, c, CAST(0 AS BIGINT) FROM $prev)
         |  GROUP BY s, c),
         |s${lv}_$i AS MATERIALIZED (SELECT cd.s, cd.c, la.c AS cs,
         |    CAST(mm AS DOUBLE) * cd.kic - CAST(d.k AS DOUBLE) * (t.tot
         |      - CASE WHEN cd.c = la.c THEN d.k ELSE 0 END) AS score
         |  FROM c${lv}_$i cd JOIN $prev la ON la.n = cd.s
         |  JOIN $deg d ON d.s = cd.s
         |  JOIN t${lv}_$i t ON t.c = cd.c
         |  CROSS JOIN m2
         |  WHERE cd.c = la.c OR cd.c $dir la.c),
         |b${lv}_$i AS MATERIALIZED (SELECT s, c, score FROM (
         |    SELECT s, c, score, row_number() OVER (PARTITION BY s
         |      ORDER BY score DESC, c ASC) AS rk FROM s${lv}_$i)
         |  WHERE rk = 1),
         |a${lv}_$i AS MATERIALIZED (SELECT la.n,
         |    CASE WHEN b.score > st.score
         |      THEN b.c ELSE la.c END AS c
         |  FROM $prev la JOIN b${lv}_$i b ON b.s = la.n
         |  JOIN (SELECT s, score FROM s${lv}_$i WHERE c = cs) st
         |    ON st.s = la.n)""".stripMargin
    }.mkString(",\n")

  /** Full-Louvain mirror: the identical fixed schedule — `sweeps`
    * guarded sweeps from singletons on the co-purchase frame, the
    * contraction (inter-community edges + internal weight as
    * super-node self-loops entering deg1 but never k_{i,C}), `sweeps`
    * more sweeps on the contracted graph, composed back to original
    * ids. 2m (`mm`) is computed once — contraction conserves it.
    */
  private def louvainFullOracleSql(sweeps: Int = 6): String = {
    val a0 = s"a0_$sweeps"
    s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |p AS MATERIALIZED (SELECT a.pk AS s0, b.pk AS t0
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e AS MATERIALIZED (SELECT s, t, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT s0 AS s, t0 AS t FROM p
       |        UNION ALL SELECT t0, s0 FROM p)
       |  GROUP BY s, t),
       |m2 AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS mm FROM e),
       |deg0 AS MATERIALIZED (SELECT s, CAST(sum(w) AS BIGINT) AS k
       |  FROM e GROUP BY s),
       |a0_0 AS MATERIALIZED (SELECT DISTINCT s AS n, s AS c FROM e),
       |${louvainSweepCtes(0, "e", "deg0", sweeps)},
       |e1 AS MATERIALIZED (SELECT la.c AS s, lb.c AS t,
       |    CAST(sum(e.w) AS BIGINT) AS w
       |  FROM e JOIN $a0 la ON la.n = e.s JOIN $a0 lb ON lb.n = e.t
       |  WHERE la.c <> lb.c GROUP BY 1, 2),
       |sw1 AS MATERIALIZED (SELECT la.c AS n, CAST(sum(e.w) AS BIGINT) AS sw
       |  FROM e JOIN $a0 la ON la.n = e.s JOIN $a0 lb ON lb.n = e.t
       |  WHERE la.c = lb.c GROUP BY 1),
       |n1 AS MATERIALIZED (SELECT DISTINCT c AS n FROM $a0),
       |deg1 AS MATERIALIZED (SELECT n1.n AS s,
       |    CAST(coalesce(sd.k, 0) + coalesce(sw1.sw, 0) AS BIGINT) AS k
       |  FROM n1 LEFT JOIN (SELECT s, sum(w) AS k FROM e1 GROUP BY s) sd
       |    ON sd.s = n1.n
       |  LEFT JOIN sw1 ON sw1.n = n1.n),
       |a1_0 AS MATERIALIZED (SELECT n, n AS c FROM n1),
       |${louvainSweepCtes(1, "e1", "deg1", sweeps)}
       |SELECT l0.n AS id, l1.c AS community
       |FROM $a0 l0 JOIN a1_$sweeps l1 ON l1.n = l0.c
       |ORDER BY id""".stripMargin
  }

  /** Seed-distance mirror: the identical integer BFS relaxation rounds
    * over the co-purchase graph, with the null-skipping min merge
    * spelled out as an explicit CASE (engine-proof null semantics).
    */
  /** Brandes two-phase mirror per pivot: forward σ levels (integer
    * path counts, anti-membership via NOT IN over the prior levels),
    * backward δ levels (round-6 per handoff, childless nodes 0), then
    * the cross-pivot dependency sum. Mirrors graph/Betweenness.scala
    * level for level.
    */
  private def betweennessOracleSql(pivots: Seq[Long], maxDepth: Int = 4,
      q: Int = 6): String = {
    def pivotCtes(p: Long): String = {
      val fwd = (1 to maxDepth).map { l =>
        val prior = (0 until l).map(i => s"SELECT n FROM p${p}f$i")
          .mkString(" UNION ")
        s"""p${p}f$l AS MATERIALIZED (SELECT e.t AS n,
           |    CAST(sum(f.sigma) AS BIGINT) AS sigma
           |  FROM e JOIN p${p}f${l - 1} f ON f.n = e.s
           |  WHERE e.t NOT IN ($prior)
           |  GROUP BY e.t)""".stripMargin
      }.mkString(",\n")
      val bwd = (maxDepth - 1 to 1 by -1).map { l =>
        s"""p${p}b$l AS MATERIALIZED (SELECT c.n,
           |    round(coalesce(sum(CAST(c.sigma AS DOUBLE) / w.sigma
           |      * (1 + w.delta)), CAST(0 AS DOUBLE)), $q) AS delta
           |  FROM p${p}f$l c
           |  LEFT JOIN e ON e.s = c.n
           |  LEFT JOIN (SELECT f.n, f.sigma, b.delta
           |      FROM p${p}f${l + 1} f JOIN p${p}b${l + 1} b ON b.n = f.n)
           |    w ON w.n = e.t
           |  GROUP BY c.n, c.sigma)""".stripMargin
      }.mkString(",\n")
      s"""p${p}f0 AS (SELECT CAST($p AS BIGINT) AS n,
         |    CAST(1 AS BIGINT) AS sigma),
         |$fwd,
         |p${p}b$maxDepth AS (SELECT n, CAST(0 AS DOUBLE) AS delta
         |  FROM p${p}f$maxDepth),
         |$bwd""".stripMargin
    }
    val ball = pivots.flatMap(p => (1 to maxDepth).map(l =>
      s"SELECT n, delta FROM p${p}b$l")).mkString("\n  UNION ALL ")
    s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |pe AS MATERIALIZED (SELECT a.pk AS s0, b.pk AS t0
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e AS MATERIALIZED (SELECT DISTINCT s, t FROM (
       |    SELECT s0 AS s, t0 AS t FROM pe
       |    UNION ALL SELECT t0, s0 FROM pe)),
       |${pivots.map(pivotCtes).mkString(",\n")},
       |ball AS ($ball)
       |SELECT n AS node, round(sum(delta), $q) AS betweenness
       |FROM ball GROUP BY n ORDER BY node""".stripMargin
  }

  /** Pivot-SCC oracle: the trade-flow CTE, the dominance sparsifier,
    * and two seedDistance-shaped BFS chains (forward on de, backward
    * on reversed de) intersected at the readout. Mirrors
    * graph/Scc.scala + SeedDistance term for term.
    */
  private def sccPivotOracleSql(pivot: Long = 0L, rounds: Int = 8): String = {
    def bfs(prefix: String, srcCol: String, dstCol: String): String =
      (1 to rounds).map { i =>
        val p = s"$prefix${i - 1}"
        s"""${prefix}r$i AS MATERIALIZED (SELECT de.$dstCol AS t,
           |    min(p.d) + 1 AS nd
           |  FROM de JOIN $p p ON p.n = de.$srcCol AND p.d IS NOT NULL
           |  GROUP BY de.$dstCol),
           |$prefix$i AS MATERIALIZED (SELECT p.n,
           |    CASE WHEN p.d IS NULL THEN r.nd
           |         WHEN r.nd IS NULL THEN p.d
           |         WHEN p.d <= r.nd THEN p.d ELSE r.nd END AS d
           |  FROM $p p LEFT JOIN ${prefix}r$i r ON r.t = p.n)""".stripMargin
      }.mkString(",\n")
    s"""WITH te AS MATERIALIZED (SELECT c.c_nationkey AS s,
       |    su.s_nationkey AS t, CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |  GROUP BY 1, 2),
       |de AS MATERIALIZED (SELECT a.s AS src, a.t AS dst FROM te a
       |  LEFT JOIN te b ON b.s = a.t AND b.t = a.s
       |  WHERE a.w > coalesce(b.w, 0)),
       |dn AS MATERIALIZED (SELECT DISTINCT n FROM (
       |    SELECT CAST(src AS BIGINT) AS n FROM de
       |    UNION ALL SELECT CAST(dst AS BIGINT) FROM de)),
       |fw0 AS MATERIALIZED (SELECT n,
       |    CASE WHEN n = $pivot THEN CAST(0 AS BIGINT) END AS d FROM dn),
       |${bfs("fw", "src", "dst")},
       |bw0 AS MATERIALIZED (SELECT n,
       |    CASE WHEN n = $pivot THEN CAST(0 AS BIGINT) END AS d FROM dn),
       |${bfs("bw", "dst", "src")}
       |SELECT f.n AS id, f.d AS hops_fwd, b.d AS hops_bwd,
       |  (f.d IS NOT NULL AND b.d IS NOT NULL) AS in_scc
       |FROM fw$rounds f JOIN bw$rounds b ON b.n = f.n
       |ORDER BY id""".stripMargin
  }

  /** HyperBall oracle: the co-purchase edge CTEs (optionally sliced),
    * the h60 register split (the q_hll convention — p=6, lowBits 54,
    * maxRank 55), one max-merge CTE per round, per-round integer-
    * power-sum estimates, and either the frac/effective-diameter
    * readout (full gate) or the exact BFS pair-expansion truth join
    * (slice gate). Mirrors graph/HyperBall.scala term for term.
    */
  private def hyperballOracleSql(rounds: Int, withTruth: Boolean,
      sliceBound: Option[Int]): String = {
    val slice = sliceBound.map(b =>
      s" WHERE a.pk <= $b AND b.pk <= $b").getOrElse("")
    val mergeSteps = (1 to rounds).map { i =>
      s"""hr$i AS MATERIALIZED (SELECT g, register, max(rank) AS rank
         |  FROM (SELECT g, register, rank FROM hr${i - 1}
         |    UNION ALL
         |    SELECT e.t AS g, r.register, r.rank
         |    FROM e JOIN hr${i - 1} r ON r.g = e.s)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val estSteps = (0 to rounds).map { i =>
      s"""hs$i AS (SELECT g, CAST(count(*) AS BIGINT) AS nz,
         |    CAST(sum(CAST(1 AS BIGINT) << (55 - rank)) AS BIGINT) AS psum
         |  FROM hr$i GROUP BY 1),
         |he$i AS (SELECT g, CAST(64 - nz AS BIGINT) AS zero_registers,
         |    round((0.7213 / (1.0 + 1.079 / 64)) * 64.0 * 64.0
         |      * power(2.0, 55)
         |      / (psum + (64 - nz) * (CAST(1 AS BIGINT) << 55)), 6)
         |      AS raw_estimate
         |  FROM hs$i),
         |hf$i AS (SELECT g,
         |    round(CASE WHEN raw_estimate <= 160.0 AND zero_registers > 0
         |      THEN 64.0 * ln(64.0 / zero_registers)
         |      ELSE raw_estimate END, 6) AS estimate
         |  FROM he$i),
         |hnf$i AS (SELECT CAST($i AS INT) AS r,
         |    round(sum(estimate), 6) AS nf FROM hf$i)""".stripMargin
    }.mkString(",\n")
    val hall = (0 to rounds).map(i => s"SELECT * FROM hnf$i")
      .mkString("\n  UNION ALL ")
    val readout = if (!withTruth)
      s"""hfin AS (SELECT nf AS nff FROM hall WHERE r = $rounds),
         |hfrac AS (SELECT r, nf, round(nf / nff, 6) AS frac
         |  FROM hall, hfin),
         |heff AS (SELECT min(r) AS re FROM hfrac WHERE frac >= 0.9)
         |SELECT r, nf, frac, (r = re) AS is_eff_diameter
         |FROM hfrac, heff ORDER BY r""".stripMargin
    else {
      val truthSteps = (1 to rounds).map { i =>
        s"""rb$i AS MATERIALIZED (SELECT DISTINCT v, u FROM (
           |    SELECT v, u FROM rb${i - 1}
           |    UNION ALL
           |    SELECT p.v, e.t AS u FROM rb${i - 1} p JOIN e ON p.u = e.s)),
           |tn$i AS (SELECT CAST($i AS INT) AS r,
           |    CAST(count(*) AS BIGINT) AS nf_true FROM rb$i)""".stripMargin
      }.mkString(",\n")
      val tall = (0 to rounds).map(i => s"SELECT * FROM tn$i")
        .mkString("\n  UNION ALL ")
      s"""rb0 AS (SELECT n AS v, n AS u FROM hn),
         |tn0 AS (SELECT CAST(0 AS INT) AS r,
         |    CAST(count(*) AS BIGINT) AS nf_true FROM rb0),
         |$truthSteps,
         |tall AS ($tall)
         |SELECT h.r, h.nf, t.nf_true,
         |  round(abs(h.nf - t.nf_true) / t.nf_true, 6) AS rel_err
         |FROM hall h JOIN tall t ON h.r = t.r ORDER BY h.r""".stripMargin
    }
    s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |pe AS MATERIALIZED (SELECT a.pk AS s0, b.pk AS t0
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk$slice),
       |e AS MATERIALIZED (SELECT DISTINCT s, t FROM (
       |    SELECT s0 AS s, t0 AS t FROM pe
       |    UNION ALL SELECT t0, s0 FROM pe)),
       |hn AS MATERIALIZED (SELECT DISTINCT s AS n FROM e),
       |hr0 AS MATERIALIZED (SELECT n AS g,
       |    h >> 54 AS register,
       |    CAST(CASE WHEN (h & ((CAST(1 AS BIGINT) << 54) - 1)) = 0 THEN 55
       |      ELSE instr(lpad(bin(h & ((CAST(1 AS BIGINT) << 54) - 1)),
       |        54, '0'), '1') END AS INT) AS rank
       |  FROM (SELECT n, CAST(('0x' || substr(md5('hb'
       |      || CAST(n AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM hn)),
       |$mergeSteps,
       |$estSteps,
       |hall AS ($hall),
       |$readout""".stripMargin
  }

  /** Chained Bellman–Ford relaxation rounds on the inverse-volume
    * trade graph — the schedule-independent integer fixpoint the
    * delta-stepping gate must land on (DeltaStepping scaladoc). 24
    * rounds ≥ |V|−1 hops on the 25-nation graph ⇒ exact. */
  private def weightedSsspOracleSql(rounds: Int = 24): String = {
    val steps = (1 to rounds).map { i =>
      val p = s"sd${i - 1}"
      s"""sr$i AS MATERIALIZED (SELECT e.dst AS t, min(p.d + e.len) AS nd
         |  FROM we e JOIN $p p ON p.n = e.src AND p.d IS NOT NULL
         |  GROUP BY e.dst),
         |sd$i AS MATERIALIZED (SELECT p.n,
         |    CASE WHEN p.d IS NULL THEN r.nd
         |         WHEN r.nd IS NULL THEN p.d
         |         WHEN p.d <= r.nd THEN p.d ELSE r.nd END AS d
         |  FROM $p p LEFT JOIN sr$i r ON r.t = p.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH te AS MATERIALIZED (SELECT c.c_nationkey AS s,
       |    su.s_nationkey AS t, CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |  GROUP BY 1, 2),
       |we AS MATERIALIZED (SELECT CAST(s AS BIGINT) AS src,
       |    CAST(t AS BIGINT) AS dst,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(floor(10000.0 / w) AS BIGINT)) AS len
       |  FROM te),
       |wn AS MATERIALIZED (SELECT DISTINCT n FROM (
       |    SELECT src AS n FROM we UNION ALL SELECT dst FROM we)),
       |sd0 AS MATERIALIZED (SELECT n,
       |    CASE WHEN n = 0 THEN CAST(0 AS BIGINT) END AS d FROM wn),
       |$steps
       |SELECT n AS id, d AS dist FROM sd$rounds ORDER BY id""".stripMargin
  }

  /** Weighted-betweenness oracle: per pivot, a Bellman–Ford distance
    * chain (schedule-independent — lands on the same integer fixpoint
    * as the engine's Δ-stepping), the shortest-path DAG via the
    * d(s)+ℓ=d(t) equality, σ as hop-wave integer path-count sums, and
    * the linear backward unrolling b_0 = 1/σ,
    * b_k(v) = round(Σ_{(v,w)∈DAG} b_{k-1}(w), q),
    * δ = round(σ·Σ_k b_k, q) — mirroring
    * graph/Betweenness.weightedBetweennessPivots term for term.
    */
  private def weightedBetweennessOracleSql(pivots: Seq[Long],
      maxHops: Int = 6, bfRounds: Int = 24, q: Int = 6): String = {
    def pivotCtes(p: Long): String = {
      val bf = (1 to bfRounds).map { i =>
        val pr = s"p${p}d${i - 1}"
        s"""p${p}r$i AS MATERIALIZED (SELECT e.dst AS t,
           |    min(x.d + e.len) AS nd
           |  FROM we e JOIN $pr x ON x.n = e.src AND x.d IS NOT NULL
           |  GROUP BY e.dst),
           |p${p}d$i AS MATERIALIZED (SELECT x.n,
           |    CASE WHEN x.d IS NULL THEN r.nd
           |         WHEN r.nd IS NULL THEN x.d
           |         WHEN x.d <= r.nd THEN x.d ELSE r.nd END AS d
           |  FROM $pr x LEFT JOIN p${p}r$i r ON r.t = x.n)""".stripMargin
      }.mkString(",\n")
      val fwd = (1 to maxHops).map { k =>
        s"""p${p}c$k AS MATERIALIZED (SELECT g.t AS n,
           |    CAST(sum(f.c) AS BIGINT) AS c
           |  FROM p${p}g g JOIN p${p}c${k - 1} f ON f.n = g.s
           |  GROUP BY g.t)""".stripMargin
      }.mkString(",\n")
      val cAll = (0 to maxHops).map(k => s"SELECT n, c FROM p${p}c$k")
        .mkString("\n    UNION ALL ")
      val bwd = (1 to maxHops).map { k =>
        s"""p${p}b$k AS MATERIALIZED (SELECT g.s AS n,
           |    round(sum(w.b), $q) AS b
           |  FROM p${p}g g JOIN p${p}b${k - 1} w ON w.n = g.t
           |  GROUP BY g.s)""".stripMargin
      }.mkString(",\n")
      val bAll = (1 to maxHops).map(k => s"SELECT n, b FROM p${p}b$k")
        .mkString("\n    UNION ALL ")
      s"""p${p}d0 AS MATERIALIZED (SELECT n,
         |    CASE WHEN n = $p THEN CAST(0 AS BIGINT) END AS d FROM wn),
         |$bf,
         |p${p}g AS MATERIALIZED (SELECT e.src AS s, e.dst AS t
         |  FROM we e
         |  JOIN p${p}d$bfRounds a ON a.n = e.src AND a.d IS NOT NULL
         |  JOIN p${p}d$bfRounds b ON b.n = e.dst AND b.d IS NOT NULL
         |  WHERE a.d + e.len = b.d),
         |p${p}c0 AS (SELECT CAST($p AS BIGINT) AS n,
         |    CAST(1 AS BIGINT) AS c),
         |$fwd,
         |p${p}sg AS MATERIALIZED (SELECT n, CAST(sum(c) AS BIGINT) AS sigma
         |  FROM ($cAll) GROUP BY n),
         |p${p}b0 AS MATERIALIZED (SELECT n, CAST(1 AS DOUBLE) / sigma AS b
         |  FROM p${p}sg),
         |$bwd,
         |p${p}ph AS MATERIALIZED (SELECT n, sum(b) AS phi
         |  FROM ($bAll) GROUP BY n),
         |p${p}dl AS (SELECT s.n,
         |    round(CAST(s.sigma AS DOUBLE)
         |      * coalesce(ph.phi, CAST(0 AS DOUBLE)), $q) AS delta
         |  FROM p${p}sg s LEFT JOIN p${p}ph ph ON ph.n = s.n
         |  WHERE s.n <> $p)""".stripMargin
    }
    val ball = pivots.map(p => s"SELECT n, delta FROM p${p}dl")
      .mkString("\n  UNION ALL ")
    s"""WITH te AS MATERIALIZED (SELECT c.c_nationkey AS s,
       |    su.s_nationkey AS t, CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |  GROUP BY 1, 2),
       |we AS MATERIALIZED (SELECT CAST(s AS BIGINT) AS src,
       |    CAST(t AS BIGINT) AS dst,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(floor(10000.0 / w) AS BIGINT)) AS len
       |  FROM te),
       |wn AS MATERIALIZED (SELECT DISTINCT n FROM (
       |    SELECT src AS n FROM we UNION ALL SELECT dst FROM we)),
       |${pivots.map(pivotCtes).mkString(",\n")},
       |ball AS ($ball)
       |SELECT n AS node, round(sum(delta), $q) AS betweenness
       |FROM ball GROUP BY n ORDER BY node""".stripMargin
  }

  /** Harmonic-centrality oracle: per-pivot Bellman–Ford distance
    * chains (the weightedBetweennessOracleSql prefix) + the
    * Σ 1/d micro-unit readout mirroring
    * Betweenness.weightedHarmonicPivots.
    */
  private def weightedHarmonicOracleSql(pivots: Seq[Long],
      bfRounds: Int = 24, q: Int = 6): String = {
    def pivotCtes(p: Long): String = {
      val bf = (1 to bfRounds).map { i =>
        val pr = s"h${p}d${i - 1}"
        s"""h${p}r$i AS MATERIALIZED (SELECT e.dst AS t,
           |    min(x.d + e.len) AS nd
           |  FROM we e JOIN $pr x ON x.n = e.src AND x.d IS NOT NULL
           |  GROUP BY e.dst),
           |h${p}d$i AS MATERIALIZED (SELECT x.n,
           |    CASE WHEN x.d IS NULL THEN r.nd
           |         WHEN r.nd IS NULL THEN x.d
           |         WHEN x.d <= r.nd THEN x.d ELSE r.nd END AS d
           |  FROM $pr x LEFT JOIN h${p}r$i r ON r.t = x.n)""".stripMargin
      }.mkString(",\n")
      s"""h${p}d0 AS MATERIALIZED (SELECT n,
         |    CASE WHEN n = $p THEN CAST(0 AS BIGINT) END AS d FROM wn),
         |$bf""".stripMargin
    }
    val contrib = pivots.map(p =>
      s"SELECT n, CAST(1 AS DOUBLE) / d AS h FROM h${p}d$bfRounds " +
        s"WHERE d IS NOT NULL AND n <> $p").mkString("\n  UNION ALL ")
    s"""WITH te AS MATERIALIZED (SELECT c.c_nationkey AS s,
       |    su.s_nationkey AS t, CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |  GROUP BY 1, 2),
       |we AS MATERIALIZED (SELECT CAST(s AS BIGINT) AS src,
       |    CAST(t AS BIGINT) AS dst,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(floor(10000.0 / w) AS BIGINT)) AS len
       |  FROM te),
       |wn AS MATERIALIZED (SELECT DISTINCT n FROM (
       |    SELECT src AS n FROM we UNION ALL SELECT dst FROM we)),
       |${pivots.map(pivotCtes).mkString(",\n")},
       |hall AS ($contrib)
       |SELECT n AS node, round(${graft.core.ExactAgg.sqlSumMicro("h")}, $q)
       |    AS harmonic
       |FROM hall GROUP BY n ORDER BY node""".stripMargin
  }

  private def seedDistanceOracleSql(rounds: Int = 4): String = {
    val steps = (1 to rounds).map { i =>
      val p = s"d${i - 1}"
      s"""r$i AS MATERIALIZED (SELECT e.t, min(p.d) + 1 AS nd
         |  FROM e JOIN $p p ON p.n = e.s AND p.d IS NOT NULL
         |  GROUP BY e.t),
         |d$i AS MATERIALIZED (SELECT p.n,
         |    CASE WHEN p.d IS NULL THEN r.nd
         |         WHEN r.nd IS NULL THEN p.d
         |         WHEN p.d <= r.nd THEN p.d ELSE r.nd END AS d
         |  FROM $p p LEFT JOIN r$i r ON r.t = p.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |pe AS MATERIALIZED (SELECT a.pk AS s0, b.pk AS t0
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e AS MATERIALIZED (SELECT DISTINCT s, t FROM (
       |    SELECT s0 AS s, t0 AS t FROM pe
       |    UNION ALL SELECT t0, s0 FROM pe)),
       |nodes AS MATERIALIZED (SELECT DISTINCT s AS n FROM e),
       |d0 AS MATERIALIZED (SELECT n,
       |    CASE WHEN n <= 5 THEN CAST(0 AS BIGINT) END AS d FROM nodes),
       |$steps
       |SELECT n AS id, d AS hops FROM d$rounds ORDER BY id""".stripMargin
  }

  /** Random-walk mirror: the identical md5-draw hop schedule over the
    * co-purchase graph — neighbor rank via row_number, draw via the
    * same 15-hex-digit md5 prefix, one chained CTE per hop
    * (graph/RandomWalks.scala).
    */
  /** Shared CTE body for the uniform-walk oracles: the co-purchase
    * edge/rank/degree frames plus the md5-draw hop chain w0..w{steps}
    * and the per-step union `wall`.
    */
  private def uniformWalkCtes(steps: Int, walksPerNode: Int,
      salt: String, seedBound: Int): String = {
    val hops = (1 to steps).map { i =>
      val p = s"w${i - 1}"
      s"""w$i AS MATERIALIZED (SELECT w.walk_id, r.t AS node
         |  FROM $p w
         |  JOIN dg ON dg.s = w.node
         |  JOIN rk r ON r.s = w.node
         |    AND r.r = ('0x' || substr(md5('$salt' ||
         |      CAST(w.walk_id AS VARCHAR) || '-$i'), 1, 15))::BIGINT
         |      % dg.deg)""".stripMargin
    }.mkString(",\n")
    val reps = (0 until walksPerNode)
      .map(r => s"(CAST($r AS BIGINT))").mkString(", ")
    val union = (0 to steps)
      .map(i => s"SELECT walk_id, CAST($i AS INT) AS step, node FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |pe AS MATERIALIZED (SELECT a.pk AS s0, b.pk AS t0
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e AS MATERIALIZED (SELECT DISTINCT s, t FROM (
       |    SELECT s0 AS s, t0 AS t FROM pe
       |    UNION ALL SELECT t0, s0 FROM pe)),
       |rk AS MATERIALIZED (SELECT s, t,
       |    CAST(row_number() OVER (PARTITION BY s ORDER BY t) - 1
       |      AS BIGINT) AS r FROM e),
       |dg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg
       |  FROM e GROUP BY s),
       |w0 AS MATERIALIZED (SELECT sd.s * $walksPerNode + reps.rep AS walk_id,
       |    sd.s AS node
       |  FROM (SELECT DISTINCT s FROM e WHERE s <= $seedBound) sd
       |  CROSS JOIN (VALUES $reps) reps(rep)),
       |$hops,
       |wall AS MATERIALIZED (
       |  $union)""".stripMargin
  }

  private def randomWalksOracleSql(steps: Int = 4, walksPerNode: Int = 2,
      salt: String = "rw"): String =
    s"""WITH ${uniformWalkCtes(steps, walksPerNode, salt, 30)}
       |SELECT walk_id, step, node FROM wall
       |ORDER BY walk_id, step""".stripMargin

  /** Walk→skip-gram mirror: the identical walk chain re-sequenced per
    * walker (list(node ORDER BY step)) feeding the same window-pair
    * arithmetic as the q_skipgram_pairs oracle, on BIGINT lists.
    */
  private def walkSkipgramOracleSql(steps: Int = 4, walksPerNode: Int = 2,
      salt: String = "rw", window: Int = 2): String =
    s"""WITH ${uniformWalkCtes(steps, walksPerNode, salt, 30)},
       |sq AS MATERIALIZED (SELECT walk_id,
       |    list(node ORDER BY step) AS t FROM wall GROUP BY walk_id),
       |tk AS MATERIALIZED (SELECT walk_id, t,
       |    unnest(range(len(t))) AS pos FROM sq),
       |pr AS MATERIALIZED (SELECT walk_id, t, pos, unnest(range(
       |      CASE WHEN pos - $window > 0 THEN pos - $window ELSE 0 END,
       |      CASE WHEN pos + ${window + 1} < len(t) THEN pos + ${window + 1}
       |        ELSE len(t) END)) AS cp
       |  FROM tk)
       |SELECT walk_id AS doc, CAST(pos AS INT) AS pos,
       |  t[pos + 1] AS center, CAST(cp AS INT) AS ctx_pos,
       |  t[cp + 1] AS context
       |FROM pr WHERE cp <> pos
       |ORDER BY doc, pos, ctx_pos""".stripMargin

  /** Walk-corpus GloVe mirror: the uniform-walk CTEs, the sequence
    * window pairs, the distance-weighted X rollup, then the shared
    * ALS chain (Glove.alsCtes) — one replay of the whole
    * graph→walks→cooc→vectors path.
    */
  private def gloveWalksOracleSql(steps: Int = 4, walksPerNode: Int = 2,
      salt: String = "rw", window: Int = 2): String =
    s"""WITH ${uniformWalkCtes(steps, walksPerNode, salt, 30)},
       |sq AS MATERIALIZED (SELECT walk_id,
       |    list(node ORDER BY step) AS t FROM wall GROUP BY walk_id),
       |tk AS MATERIALIZED (SELECT walk_id, t,
       |    unnest(range(len(t))) AS pos FROM sq),
       |pr AS MATERIALIZED (SELECT walk_id, t, pos, unnest(range(
       |      CASE WHEN pos - $window > 0 THEN pos - $window ELSE 0 END,
       |      CASE WHEN pos + ${window + 1} < len(t) THEN pos + ${window + 1}
       |        ELSE len(t) END)) AS cp
       |  FROM tk),
       |cx AS MATERIALIZED (SELECT t[pos + 1] AS center, t[cp + 1] AS context,
       |    round(sum(CAST(1 AS DOUBLE) / abs(pos - cp)), 6) AS x
       |  FROM pr WHERE cp <> pos GROUP BY 1, 2),
       |gb AS MATERIALIZED (SELECT center, context,
       |    round(least(power(x / ${graft.llmdata.Glove.Xmax},
       |      ${graft.llmdata.Glove.Alpha}), 1.0), 6) AS f,
       |    round(ln(x), 6) AS y FROM cx),
       |${graft.llmdata.Glove.alsCtes(d = 2)}
       |SELECT token, role, f1, f2 FROM gfinal
       |ORDER BY role, token""".stripMargin

  /** node2vec mirror: uniform hop 1, then per hop the candidate
    * expansion, the LEFT edge-existence join, the integer α weights,
    * and the per-walker cumulative interval pick — the identical
    * integer arithmetic as RandomWalks.biasedWalksOn.
    */
  private def node2vecOracleSql(steps: Int = 4, walksPerNode: Int = 2,
      p: Double = 4.0, q: Double = 0.25,
      salt: String = "n2v"): String = {
    val wReturn = math.round(1e6 / p)
    val wOut = math.round(1e6 / q)
    val hops = (2 to steps).map { i =>
      val prev = s"w${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT w.walk_id, w.node AS cur,
         |    w.prev, r.t AS cand,
         |    CASE WHEN r.t = w.prev THEN CAST($wReturn AS BIGINT)
         |         WHEN ee.s IS NOT NULL THEN CAST(1000000 AS BIGINT)
         |         ELSE CAST($wOut AS BIGINT) END AS wt
         |  FROM $prev w
         |  JOIN rk r ON r.s = w.node
         |  LEFT JOIN e ee ON ee.s = w.prev AND ee.t = r.t),
         |s$i AS MATERIALIZED (SELECT walk_id, cur, cand, wt,
         |    sum(wt) OVER (PARTITION BY walk_id ORDER BY cand
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
         |    ('0x' || substr(md5('$salt' ||
         |      CAST(walk_id AS VARCHAR) || '-$i'), 1, 15))::BIGINT
         |      % sum(wt) OVER (PARTITION BY walk_id) AS draw
         |  FROM c$i),
         |w$i AS MATERIALIZED (SELECT walk_id, cur AS prev,
         |    cand AS node
         |  FROM s$i WHERE draw >= hi - wt AND draw < hi)""".stripMargin
    }.mkString(",\n")
    val reps = (0 until walksPerNode)
      .map(r => s"(CAST($r AS BIGINT))").mkString(", ")
    val union = (0 to steps)
      .map(i => s"SELECT walk_id, CAST($i AS INT) AS step, node FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""WITH li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |pe AS MATERIALIZED (SELECT a.pk AS s0, b.pk AS t0
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e AS MATERIALIZED (SELECT DISTINCT s, t FROM (
       |    SELECT s0 AS s, t0 AS t FROM pe
       |    UNION ALL SELECT t0, s0 FROM pe)),
       |rk AS MATERIALIZED (SELECT s, t,
       |    CAST(row_number() OVER (PARTITION BY s ORDER BY t) - 1
       |      AS BIGINT) AS r FROM e),
       |dg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg
       |  FROM e GROUP BY s),
       |w0 AS MATERIALIZED (SELECT sd.s * $walksPerNode + reps.rep AS walk_id,
       |    sd.s AS node
       |  FROM (SELECT DISTINCT s FROM e WHERE s <= 20) sd
       |  CROSS JOIN (VALUES $reps) reps(rep)),
       |w1 AS MATERIALIZED (SELECT w.walk_id, w.node AS prev, r.t AS node
       |  FROM w0 w
       |  JOIN dg ON dg.s = w.node
       |  JOIN rk r ON r.s = w.node
       |    AND r.r = ('0x' || substr(md5('$salt' ||
       |      CAST(w.walk_id AS VARCHAR) || '-1'), 1, 15))::BIGINT
       |      % dg.deg),
       |$hops
       |SELECT * FROM (
       |  $union)
       |ORDER BY walk_id, step""".stripMargin
  }

  /** HITS mirror: the identical L1-normalized hub/authority rounds
    * over the trade graph, quantized at every handoff
    * (graph/Hits.scala).
    */
  private def hitsOracleSql(iters: Int = 10, q: Int = 10): String = {
    val steps = (1 to iters).map { i =>
      val p = s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (SELECT e.t, sum(e.w * $p.h) AS r
         |  FROM e JOIN $p ON $p.n = e.s GROUP BY e.t),
         |at$i AS MATERIALIZED (SELECT sum(r) AS tot FROM ar$i),
         |a$i AS MATERIALIZED (SELECT nodes.n,
         |    round(coalesce(ar$i.r / at$i.tot, CAST(0 AS DOUBLE)), $q) AS a
         |  FROM nodes LEFT JOIN ar$i ON ar$i.t = nodes.n CROSS JOIN at$i),
         |hr$i AS MATERIALIZED (SELECT e.s, sum(e.w * a$i.a) AS r
         |  FROM e JOIN a$i ON a$i.n = e.t GROUP BY e.s),
         |ht$i AS MATERIALIZED (SELECT sum(r) AS tot FROM hr$i),
         |h$i AS MATERIALIZED (SELECT nodes.n,
         |    round(coalesce(hr$i.r / ht$i.tot, CAST(0 AS DOUBLE)), $q) AS h
         |  FROM nodes LEFT JOIN hr$i ON hr$i.s = nodes.n CROSS JOIN ht$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT c.c_nationkey AS s, su.s_nationkey AS t,
       |             CAST(count(*) AS DOUBLE) AS w
       |           FROM lineitem l
       |           JOIN orders o ON l.l_orderkey = o.o_orderkey
       |           JOIN customer c ON o.o_custkey = c.c_custkey
       |           JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |           GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT DISTINCT n FROM (SELECT s AS n FROM e
       |          UNION ALL SELECT t FROM e)),
       |nn AS MATERIALIZED (SELECT count(*) AS cnt FROM nodes),
       |h0 AS MATERIALIZED (SELECT n, round(CAST(1 AS DOUBLE) / nn.cnt, $q) AS h
       |       FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT h$iters.n AS node, round(h$iters.h, 6) AS hub,
       |  round(a$iters.a, 6) AS authority
       |FROM h$iters JOIN a$iters ON a$iters.n = h$iters.n
       |ORDER BY node""".stripMargin
  }

  /** Coreness mirror: the identical h-index rounds over the simple
    * symmetrized co-purchase graph — h = max(min(rank, v)) over
    * neighbor values sorted (v DESC, neighbor ASC), pure integer
    * arithmetic (graph/KCore.coreness; early stop is idempotent so the
    * fixed-round replay matches).
    */
  private def corenessOracleSql(rounds: Int = 8): String = {
    val steps = (1 to rounds).map { i =>
      val p = s"h${i - 1}"
      s"""h$i AS MATERIALIZED (SELECT s AS n, max(least(rn, hv)) AS h FROM (
         |    SELECT und.s, p.h AS hv,
         |      CAST(row_number() OVER (PARTITION BY und.s
         |        ORDER BY p.h DESC, und.t ASC) AS BIGINT) AS rn
         |    FROM und JOIN $p p ON p.n = und.t) GROUP BY s)""".stripMargin
    }.mkString(",\n")
    s"""WITH pe AS MATERIALIZED (SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
       |    FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |und AS MATERIALIZED (SELECT DISTINCT s, t FROM (
       |    SELECT id_a AS s, id_b AS t FROM pe
       |    UNION ALL SELECT id_b, id_a FROM pe)),
       |h0 AS MATERIALIZED (SELECT s AS n, CAST(count(*) AS BIGINT) AS h
       |    FROM und GROUP BY s),
       |$steps
       |SELECT n AS id, h AS coreness FROM h$rounds ORDER BY id""".stripMargin
  }

  /** Generated label-propagation oracle: the full synchronous
    * trajectory as chained CTEs. The per-round argmax is expressed as
    * a window rank here (vs the Spark side's min-struct aggregate) —
    * an independent formulation of the same integer-exact selection,
    * which is precisely what the cross-check pins.
    */
  private def labelPropCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT s AS n, l FROM (
         |  SELECT e.s, lp.l, row_number() OVER (PARTITION BY e.s
         |      ORDER BY CAST(sum(e.w) AS BIGINT) DESC, lp.l ASC) AS rk
         |  FROM e JOIN l${i - 1} lp ON lp.n = e.t
         |  GROUP BY e.s, lp.l) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""li AS MATERIALIZED (SELECT l_orderkey AS ok,
       |    CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |p AS MATERIALIZED (SELECT a.pk AS s0, b.pk AS t0
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e AS MATERIALIZED (SELECT s, t, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT s0 AS s, t0 AS t FROM p
       |        UNION ALL SELECT t0, s0 FROM p)
       |  GROUP BY s, t),
       |l0 AS MATERIALIZED (SELECT DISTINCT s AS n, s AS l FROM e),
       |$steps""".stripMargin
  }

  private def labelPropOracleSql(iters: Int = 5): String =
    s"""WITH ${labelPropCtes(iters)}
       |SELECT n AS id, l AS community FROM l$iters ORDER BY id""".stripMargin

  /** Modularity mirror composed over the SAME replayed LPA trajectory:
    * integer internal/degree sums per community, one quantized
    * division at the end (explicit DOUBLE casts — DuckDB '/' on
    * integers truncates where Spark's is true division).
    */
  private def modularityOracleSql(iters: Int = 5): String =
    s"""WITH ${labelPropCtes(iters)},
       |lab AS MATERIALIZED (SELECT n AS id, l AS c FROM l$iters),
       |deg AS (SELECT s, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY s),
       |tot AS (SELECT c AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d) AS BIGINT) AS degree_w
       |  FROM deg JOIN lab ON lab.id = deg.s GROUP BY c),
       |inw AS (SELECT la.c AS community, CAST(sum(e.w) AS BIGINT) AS iw
       |  FROM e JOIN lab la ON la.id = e.s JOIN lab lb ON lb.id = e.t
       |  WHERE la.c = lb.c GROUP BY la.c),
       |m2 AS (SELECT CAST(sum(w) AS BIGINT) AS mm FROM e)
       |SELECT t.community, t.n_nodes,
       |  coalesce(iw, 0) AS internal_w, t.degree_w,
       |  round(CAST(coalesce(iw, 0) AS DOUBLE) / mm
       |    - (CAST(t.degree_w AS DOUBLE) / mm)
       |      * (CAST(t.degree_w AS DOUBLE) / mm), 6) AS contribution
       |FROM tot t LEFT JOIN inw ON inw.community = t.community
       |CROSS JOIN m2 ORDER BY t.community""".stripMargin

  /** Quantile-sketch mirror: the identical DDSketch bucket math
    * (quantized log ratio → ceil → grouped counts → cumulative pick at
    * rank ⌊p·(n−1)⌋+1 → midpoint 2γ^b/(γ+1)) plus the identical exact
    * order statistic off the value-level count frame; γ and ln γ are
    * the interpolated Scala doubles so both engines use the same
    * constants.
    */
  private def quantileSketchOracleSql(alpha: Double = 0.01): String = {
    val g = Sketches.ddGamma(alpha)
    val lg = math.log(g)
    s"""WITH b AS (SELECT l_returnflag AS g,
       |    CAST(ceil(round(ln(l_extendedprice) / $lg, 6)) AS BIGINT)
       |      AS bucket
       |  FROM lineitem),
       |sk AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM b GROUP BY 1, 2),
       |cum AS (SELECT g, bucket,
       |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT)
       |      AS cum FROM sk),
       |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY 1),
       |ps AS (SELECT unnest([0.5, 0.95, 0.99]) AS p),
       |pick AS (SELECT c.g, ps.p, min(c.bucket) AS bk
       |  FROM cum c JOIN tot USING (g) CROSS JOIN ps
       |  WHERE c.cum >= CAST(floor(ps.p * (tot.n - 1)) AS BIGINT) + 1
       |  GROUP BY 1, 2),
       |est AS (SELECT g, p,
       |    round(2.0 * pow($g, bk) / ${g + 1.0}, 6) AS estimate
       |  FROM pick),
       |vals AS (SELECT l_returnflag AS g, l_extendedprice AS v,
       |    CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1, 2),
       |vcum AS (SELECT g, v,
       |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
       |      AS cum FROM vals),
       |ex AS (SELECT vc.g, ps.p, min(vc.v) AS exv
       |  FROM vcum vc JOIN tot USING (g) CROSS JOIN ps
       |  WHERE vc.cum >= CAST(floor(ps.p * (tot.n - 1)) AS BIGINT) + 1
       |  GROUP BY 1, 2)
       |SELECT e.g AS l_returnflag, e.p AS p, e.estimate,
       |  round(ex.exv, 6) AS exact_at_rank,
       |  (abs(e.estimate - round(ex.exv, 6))
       |    <= $alpha * round(ex.exv, 6)) AS within_alpha
       |FROM est e JOIN ex ON ex.g = e.g AND ex.p = e.p
       |ORDER BY 1, 2""".stripMargin
  }

  /** Shared confidence frame for the ALS gates: customer×part purchase
    * strengths off lineitem⋈orders, confidence quantized at
    * construction (ImplicitAls.confidences).
    */
  /** Per-dir rank-2 ALS factors (fit-once memo, the lpaLabelsMemo
    * convention): q_als_implicit gates the factors and q_als_recs
    * scores recommendations off the SAME fit — before r14 each ran its
    * own full 2-alternation fit on identical inputs. */
  private def alsFactorsMemo(s: SparkSession, dir: String): DataFrame = {
    val conf = alsConfidences(s, dir)
    graphMemo.computeIfAbsent(s"alsf2:$dir", _ => {
      val f = graft.recommend.ImplicitAls.fit(conf, d = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    })
  }

  /** The confidence frame persisted per dir (r15): three consumers —
    * the rank-2 fit memo, the d=8 fit, and q_als_recs' probe/anti-join
    * — each re-paid the lineitem⋈orders build (one corpus join +
    * rollup per fit, plus every half-step re-reading it without this
    * cache). Persist + eager count once; Memos.clearAll releases it
    * between bench passes.
    */
  private def alsConfidences(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graphMemo.computeIfAbsent(s"alsconf:$dir", _ => {
      val c = graft.recommend.ImplicitAls.confidences(
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
          .agg(sum(col("l_quantity")).as("x")),
        "user", "item", "x")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    })

  /** The ALS confidence frame as a DuckDB CTE `ac(u_id, i_id, c)` —
    * mirrors [[alsConfidences]] sum-then-round. */
  private val alsConfCte: String =
    """ac AS MATERIALIZED (SELECT o.o_custkey AS u_id,
      |    l.l_partkey AS i_id,
      |    round(1.0 + 0.1 * sum(l.l_quantity), 6) AS c
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2)""".stripMargin

  private def alsImplicitOracleSql(): String =
    s"""WITH $alsConfCte,
       |${graft.recommend.ImplicitAls.alsCtes(d = 2)}
       |SELECT id, role, f1, f2 FROM afinal
       |ORDER BY role, id""".stripMargin

  private def alsImplicitD8OracleSql(): String = {
    val fList = (1 to 8).map(i => s"f$i").mkString(", ")
    s"""WITH $alsConfCte,
       |${graft.recommend.ImplicitAls.alsCtes(d = 8)}
       |SELECT id, role, $fList FROM afinal
       |ORDER BY role, id""".stripMargin
  }

  private def alsRecsOracleSql(k: Int = 5): String =
    s"""WITH $alsConfCte,
       |${graft.recommend.ImplicitAls.alsCtes(d = 2)},
       |aprobe AS (SELECT DISTINCT u_id FROM ac WHERE u_id < 30),
       |ascored AS (SELECT p.u_id,
       |    i.id AS item, round(u.f1 * i.f1 + u.f2 * i.f2, 6) AS score
       |  FROM aprobe p
       |  JOIN au2 u ON u.id = p.u_id
       |  CROSS JOIN ai2 i
       |  WHERE NOT EXISTS (SELECT 1 FROM ac a
       |    WHERE a.u_id = p.u_id AND a.i_id = i.id))
       |SELECT u_id AS "user", CAST(rank AS INT) AS rank, item, score
       |FROM (SELECT u_id, item, score, row_number() OVER
       |    (PARTITION BY u_id ORDER BY score DESC, item) AS rank
       |  FROM ascored)
       |WHERE rank <= $k
       |ORDER BY 1, 2""".stripMargin

  /** Shared bottom-k CTE prefix for the KMV gates: the same 60-bit md5
    * hashes (the house h60 mirror), the same per-year bottom-128
    * distinct frame via row_number over the distinct hash set — the
    * sketch is a pure function of the distinct key set, so the replay
    * is row-exact.
    */
  private def kmvFrameCtes(k: Int): String =
    s"""khk AS (SELECT DISTINCT CAST(year(l_shipdate) AS INT) AS g,
       |    ('0x' || substr(md5('kmv' || CAST(l_partkey AS VARCHAR)),
       |      1, 15))::BIGINT AS h
       |  FROM lineitem),
       |ksk AS (SELECT g, h, pos FROM (SELECT g, h,
       |    row_number() OVER (PARTITION BY g ORDER BY h) AS pos
       |  FROM khk) WHERE pos <= $k)""".stripMargin

  private def kmvSketchOracleSql(k: Int = 128): String =
    s"""WITH ${kmvFrameCtes(k)},
       |kest AS (SELECT g, CAST(count(*) AS BIGINT) AS n_seen,
       |    max(CASE WHEN pos = $k THEN h END) AS hk
       |  FROM ksk GROUP BY 1),
       |kex AS (SELECT CAST(year(l_shipdate) AS INT) AS g,
       |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
       |  FROM lineitem GROUP BY 1)
       |SELECT e.g AS ship_year, e.n_seen,
       |  round(CASE WHEN e.n_seen < $k THEN CAST(e.n_seen AS DOUBLE)
       |    ELSE ${(k - 1).toDouble} * pow(2.0, 60) / CAST(e.hk AS DOUBLE)
       |    END, 6) AS estimate,
       |  x.exact_distinct
       |FROM kest e JOIN kex x USING (g)
       |ORDER BY ship_year""".stripMargin

  private def kmvSetOpsOracleSql(k: Int = 128, yearA: Int = 1995,
      yearB: Int = 1997): String =
    s"""WITH ${kmvFrameCtes(k)},
       |kta AS (SELECT CASE WHEN count(*) < $k
       |      THEN CAST(1152921504606846976 AS BIGINT)
       |      ELSE max(CASE WHEN pos = $k THEN h END) END AS theta_a
       |  FROM ksk WHERE g = $yearA),
       |ktb AS (SELECT CASE WHEN count(*) < $k
       |      THEN CAST(1152921504606846976 AS BIGINT)
       |      ELSE max(CASE WHEN pos = $k THEN h END) END AS theta_b
       |  FROM ksk WHERE g = $yearB),
       |kcells AS (SELECT coalesce(a.h, b.h) AS h,
       |    a.h IS NOT NULL AS in_a, b.h IS NOT NULL AS in_b,
       |    least(theta_a, theta_b) AS theta
       |  FROM (SELECT h FROM ksk WHERE g = $yearA) a
       |  FULL OUTER JOIN (SELECT h FROM ksk WHERE g = $yearB) b
       |    ON a.h = b.h
       |  CROSS JOIN kta CROSS JOIN ktb),
       |kagg AS (SELECT max(theta) AS theta,
       |    CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_both,
       |    CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_only_a,
       |    CAST(sum(CASE WHEN NOT in_a AND in_b THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_only_b
       |  FROM kcells WHERE h < theta),
       |kexa AS (SELECT DISTINCT l_partkey AS p FROM lineitem
       |  WHERE CAST(year(l_shipdate) AS INT) = $yearA),
       |kexb AS (SELECT DISTINCT l_partkey AS p FROM lineitem
       |  WHERE CAST(year(l_shipdate) AS INT) = $yearB),
       |kex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
       |    CAST(sum(CASE WHEN a.p IS NOT NULL AND b.p IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersection
       |  FROM kexa a FULL OUTER JOIN kexb b ON a.p = b.p)
       |SELECT n_both, n_only_a, n_only_b,
       |  round((n_both + n_only_a + n_only_b)
       |    * (pow(2.0, 60) / CAST(theta AS DOUBLE)), 6) AS union_est,
       |  round(n_both * (pow(2.0, 60) / CAST(theta AS DOUBLE)), 6)
       |    AS intersection_est,
       |  round(n_only_a * (pow(2.0, 60) / CAST(theta AS DOUBLE)), 6)
       |    AS difference_a_est,
       |  round(CAST(n_both AS DOUBLE)
       |    / (n_both + n_only_a + n_only_b), 6) AS jaccard_est,
       |  exact_union, exact_intersection
       |FROM kagg CROSS JOIN kex""".stripMargin

  /** ONE oracle for both fuzzy-join gates: routing (broadcast vs
    * shuffled build) must never change the answer, so the gates share
    * the string — an edit here updates both or neither.
    */
  private val fuzzyJoinOracleSql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  a.c_name AS name_a, b.c_name AS name_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_pagerank" -> pageRankOracleSql(),
    "q_personalized_pagerank" -> pprOracleSql(),
    "q_ppr_push" -> pprPushOracleSql(),
    "q_louvain_refine" -> louvainRefineOracleSql(),
    "q_louvain_full" -> louvainFullOracleSql(),
    "q_quantile_sketch" -> quantileSketchOracleSql(),
    "q_kmv_sketch" -> kmvSketchOracleSql(),
    "q_kmv_setops" -> kmvSetOpsOracleSql(),
    "q_als_implicit" -> alsImplicitOracleSql(),
    "q_als_implicit_d8" -> alsImplicitD8OracleSql(),
    "q_als_recs" -> alsRecsOracleSql(),
    "q_seed_distance" -> seedDistanceOracleSql(),
    "q_scc_pivot" -> sccPivotOracleSql(),
    "q_weighted_sssp" -> weightedSsspOracleSql(),
    "q_weighted_betweenness" -> weightedBetweennessOracleSql(Seq(0L, 1L)),
    "q_weighted_harmonic" -> weightedHarmonicOracleSql(Seq(0L, 1L, 2L)),
    "q_betweenness" -> betweennessOracleSql(Seq(1L, 2L)),
    "q_neighborhood_function" ->
      hyperballOracleSql(rounds = 4, withTruth = false, sliceBound = None),
    "q_hyperball_truth" ->
      hyperballOracleSql(rounds = 3, withTruth = true,
        sliceBound = Some(200)),
    "q_random_walks" -> randomWalksOracleSql(),
    "q_node2vec_walks" -> node2vecOracleSql(),
    "q_walk_skipgram" -> walkSkipgramOracleSql(),
    "q_glove_walks" -> gloveWalksOracleSql(),
    "q_coreness" -> corenessOracleSql(),
    "q_hits" -> hitsOracleSql(),
    "q_label_prop" -> labelPropOracleSql(),
    "q_adamic_adar" ->
      """WITH em AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < 300),
        |x AS MATERIALIZED (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
        |  generate_subscripts(embedding, 1) AS i FROM em),
        |nv AS MATERIALIZED (SELECT vec_id, sqrt(sum(e * e)) AS n
        |  FROM x GROUP BY 1),
        |p AS (SELECT xa.vec_id AS qid, xb.vec_id AS cid,
        |    round(sum(xa.e * xb.e) / (na.n * nb.n), 6) AS s
        |  FROM x xa JOIN x xb ON xa.i = xb.i AND xa.vec_id <> xb.vec_id
        |  JOIN nv na ON na.vec_id = xa.vec_id
        |  JOIN nv nb ON nb.vec_id = xb.vec_id
        |  GROUP BY 1, 2, na.n, nb.n),
        |k5 AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid)
        |      AS rk FROM p) WHERE rk <= 5),
        |e AS (SELECT DISTINCT least(qid, cid) AS u,
        |  greatest(qid, cid) AS v FROM k5),
        |adj AS (SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v, u FROM e),
        |dg AS (SELECT src AS z, CAST(count(*) AS BIGINT) AS deg
        |  FROM adj GROUP BY 1),
        |hf AS (SELECT adj.src AS z, adj.dst, dg.deg
        |  FROM adj JOIN dg ON adj.src = dg.z WHERE dg.deg <= 25),
        |w AS (SELECT a.dst AS u, b.dst AS v, a.deg AS zdeg
        |  FROM hf a JOIN hf b ON a.z = b.z AND a.dst < b.dst),
        |nw AS (SELECT w.u, w.v, w.zdeg FROM w
        |  LEFT JOIN e ON w.u = e.u AND w.v = e.v WHERE e.u IS NULL),
        |sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors,
        |    round(sum(1.0 / ln(zdeg)), 6) AS aa FROM nw GROUP BY 1, 2)
        |SELECT u AS id_a, v AS id_b, common_neighbors, aa
        |FROM sc ORDER BY aa DESC, u, v LIMIT 40""".stripMargin,
    "q_link_scores" ->
      """WITH em AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < 300),
        |x AS MATERIALIZED (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
        |  generate_subscripts(embedding, 1) AS i FROM em),
        |nv AS MATERIALIZED (SELECT vec_id, sqrt(sum(e * e)) AS n
        |  FROM x GROUP BY 1),
        |p AS (SELECT xa.vec_id AS qid, xb.vec_id AS cid,
        |    round(sum(xa.e * xb.e) / (na.n * nb.n), 6) AS s
        |  FROM x xa JOIN x xb ON xa.i = xb.i AND xa.vec_id <> xb.vec_id
        |  JOIN nv na ON na.vec_id = xa.vec_id
        |  JOIN nv nb ON nb.vec_id = xb.vec_id
        |  GROUP BY 1, 2, na.n, nb.n),
        |k5 AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid)
        |      AS rk FROM p) WHERE rk <= 5),
        |e AS (SELECT DISTINCT least(qid, cid) AS u,
        |  greatest(qid, cid) AS v FROM k5),
        |adj AS (SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v, u FROM e),
        |dg AS (SELECT src AS z, CAST(count(*) AS BIGINT) AS deg
        |  FROM adj GROUP BY 1),
        |hf AS (SELECT adj.src AS z, adj.dst, dg.deg
        |  FROM adj JOIN dg ON adj.src = dg.z WHERE dg.deg <= 25),
        |w AS (SELECT a.dst AS u, b.dst AS v, a.deg AS zdeg
        |  FROM hf a JOIN hf b ON a.z = b.z AND a.dst < b.dst),
        |nw AS (SELECT w.u, w.v, w.zdeg FROM w
        |  LEFT JOIN e ON w.u = e.u AND w.v = e.v WHERE e.u IS NULL),
        |sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors,
        |    round(sum(1.0 / ln(zdeg)), 6) AS aa,
        |    round(sum(1.0 / zdeg), 6) AS ra FROM nw GROUP BY 1, 2),
        |sd AS (SELECT sc.u, sc.v, sc.common_neighbors, sc.aa, sc.ra,
        |    round(CAST(sc.common_neighbors AS DOUBLE)
        |      / CAST(du.deg + dv.deg - sc.common_neighbors AS DOUBLE), 6)
        |      AS jaccard,
        |    du.deg * dv.deg AS pa
        |  FROM sc JOIN dg du ON du.z = sc.u JOIN dg dv ON dv.z = sc.v)
        |SELECT u AS id_a, v AS id_b, common_neighbors, jaccard, aa, ra,
        |  pa
        |FROM sd ORDER BY aa DESC, u, v LIMIT 40""".stripMargin,
    "q_modularity" -> modularityOracleSql(),
    // entity-resolution mirror: scored pairs thresholded, closed
    // transitively by the same recursive CTE as the dedup clusters
    "q_entity_clusters" ->
      s"""WITH RECURSIVE $linkagePairsSql,
         |${graft.linkage.FellegiSunter.emOracleCtes("linkpairs", linkageFields, 5)},
         |scored AS (SELECT id_a, id_b,
         |    ${graft.linkage.FellegiSunter.scoreOracleSelect(linkageFields)}
         |  FROM linkpairs, it5),
         |m AS (SELECT id_a, id_b FROM scored WHERE posterior >= 0.9),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM m
         |          UNION SELECT id_b, id_a FROM m),
         |cc(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, c.label FROM edges e JOIN cc c ON c.id = e.dst)
         |SELECT id AS doc_id, min(label) AS entity_id
         |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin,

    // constraint-suite mirror: every row rule one conditional count
    // off a single aggregate; FK as a NOT IN anti count
    "q_data_quality" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_nn,
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
        |      AS BIGINT) AS v_uq,
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND
        |      NOT (o_totalprice >= 0 AND o_totalprice <= 300000)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_rg,
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL AND
        |      o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_set,
        |    CAST(sum(CASE WHEN o_orderpriority IS NOT NULL AND
        |      NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_re
        |  FROM orders),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS v FROM orders o
        |  WHERE o.o_custkey IS NOT NULL
        |    AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |r AS (SELECT 'not_null(o_orderkey)' AS rule, n, v_nn AS v FROM t
        |  UNION ALL SELECT 'unique(o_orderkey)', n, v_uq FROM t
        |  UNION ALL SELECT 'in_range(o_totalprice)', n, v_rg FROM t
        |  UNION ALL SELECT 'in_set(o_orderstatus)', n, v_set FROM t
        |  UNION ALL SELECT 'matches(o_orderpriority)', n, v_re FROM t
        |  UNION ALL SELECT 'fk(o_custkey->customer)', n, v FROM fk, t)
        |SELECT rule, n AS n_rows, v AS n_violations,
        |  round(CAST(v AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS violation_frac,
        |  v = 0 AS passed
        |FROM r ORDER BY rule""".stripMargin,

    // FS-EM mirrors: the quantized trajectory replayed via CTEs
    // GENERATED from the same (fields, iters, init, quantize)
    "q_linkage_em_params" ->
      s"""WITH $linkagePairsSql,
         |${graft.linkage.FellegiSunter.emOracleCtes("linkpairs", linkageFields, 5)}
         |SELECT * FROM it5""".stripMargin,
    "q_record_linkage" ->
      s"""WITH $linkagePairsSql,
         |${graft.linkage.FellegiSunter.emOracleCtes("linkpairs", linkageFields, 5)}
         |SELECT id_a, id_b, g_source, g_lang, g_len, g_prefix,
         |  ${graft.linkage.FellegiSunter.scoreOracleSelect(linkageFields)}
         |FROM linkpairs, it5 ORDER BY id_a, id_b""".stripMargin,
    // u-estimator mirror: the same h60 bucket draw over the same
    // attribute projection, identical agreement expressions
    "q_linkage_u_random" ->
      s"""WITH $linkageUSql
         |SELECT u_g_source, u_g_lang, u_g_len, u_g_prefix
         |FROM uparams""".stripMargin,
    // fixed-u EM mirror: the u CTEs feed the generated replay; the
    // Scala side embeds the collected u row as literals, the SQL side
    // references the CTE computing the identical quantized doubles
    "q_linkage_em_fixed_u" ->
      s"""WITH $linkagePairsSql,
         |$linkageUSql,
         |${graft.linkage.FellegiSunter.emFixedUOracleCtes(
             "linkpairs", linkageFields, "uparams", 5)}
         |SELECT lam, ${linkageFields.map(f => s"m_$f").mkString(", ")},
         |  ${linkageFields.map(f => s"u_$f").mkString(", ")}
         |FROM it5, uparams""".stripMargin,
    // Morton mirror: the identical bit-interleave GENERATED from the
    // same (cols, bits) parameters as the Spark key
    "q_zorder_layout" -> {
      val z = Layout.zOrderScaledSql(Seq("l_partkey", "l_suppkey"), 16)
      s"""WITH b AS (SELECT CAST(min(l_partkey) AS BIGINT) AS mn_0,
         |    CAST(max(l_partkey) AS BIGINT) AS mx_0,
         |    CAST(min(l_suppkey) AS BIGINT) AS mn_1,
         |    CAST(max(l_suppkey) AS BIGINT) AS mx_1 FROM lineitem),
         |k AS (SELECT l_partkey, l_suppkey, $z AS z FROM lineitem, b)
         |SELECT (z >> 26) AS bucket, count(*) AS n,
         |  min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey,
         |  min(l_suppkey) AS min_l_suppkey, max(l_suppkey) AS max_l_suppkey
         |FROM k GROUP BY 1 ORDER BY bucket""".stripMargin
    },
    // triangle mirror: id-ordered enumeration (a<b<c); per-node counts
    // are orientation-invariant, so this cross-checks the degree-
    // ordered Spark plan with an independent formulation
    "q_triangle_count" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT id, count(*) AS degree FROM (
        |    SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
        |  GROUP BY id),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT id, CAST(count(*) AS BIGINT) AS tri FROM (
        |    SELECT a AS id FROM t UNION ALL SELECT b FROM t
        |    UNION ALL SELECT c FROM t) GROUP BY id)
        |SELECT CAST(deg.id AS BIGINT) AS id, CAST(degree AS BIGINT) AS degree,
        |  CAST(coalesce(tri, 0) AS BIGINT) AS triangles,
        |  CASE WHEN degree >= 2 THEN
        |    round(2.0 * coalesce(tri, 0)
        |      / CAST(degree * (degree - 1) AS DOUBLE), 6)
        |  ELSE 0.0 END AS clustering_coeff
        |FROM deg LEFT JOIN tn ON tn.id = deg.id
        |ORDER BY deg.id""".stripMargin,
    "q_fuzzy_join" -> fuzzyJoinOracleSql,
    "q_fuzzy_join_shuffled" -> fuzzyJoinOracleSql,
    "q_jaro_winkler" ->
      """WITH k AS (SELECT c_custkey AS id, c_name AS name,
        |    substr(c_name, 1, 17) AS blk FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  a.name AS name_a, b.name AS name_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS sim
        |FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "q_scd2" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR prev != event_type
        |    THEN 1 ELSE 0 END AS chg FROM o),
        |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS seg FROM f),
        |iv AS (SELECT user_id, seg, min(event_type) AS event_type,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, event_type,
        |  strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  strftime(lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg),
        |    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |  n_events
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,

    "q_funnel" ->
      """WITH su AS (SELECT user_id, min(ts) AS su FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, ts AS pt FROM events
        |  WHERE event_type = 'purchase'),
        |per_user AS (SELECT su.user_id,
        |    max(CASE WHEN pu.pt IS NOT NULL
        |          AND epoch_us(pu.pt) >= epoch_us(su.su)
        |          AND epoch_us(pu.pt) - epoch_us(su.su) <= 604800000000::BIGINT
        |        THEN 1 ELSE 0 END) AS conv
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
        |  GROUP BY 1)
        |SELECT count(*) AS n_signup_users,
        |  CAST(sum(conv) AS BIGINT) AS n_converted,
        |  round(CAST(sum(conv) AS DOUBLE) / count(*), 6) AS conversion_rate
        |FROM per_user""".stripMargin,

    "q_attribution" ->
      """WITH t AS (SELECT user_id AS u, ts, event_id AS tb,
        |    event_type AS channel, event_type = 'purchase' AS conv,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM events),
        |tou AS (SELECT u, grp + 1 AS grp, ts, tb, channel FROM t
        |  WHERE NOT conv),
        |cv AS (SELECT u, grp FROM t WHERE conv),
        |att AS (SELECT tou.u, tou.grp, tou.ts, tou.tb, tou.channel
        |  FROM tou JOIN cv USING (u, grp)),
        |pg AS (SELECT u, grp, CAST(count(*) AS BIGINT) AS n
        |  FROM att GROUP BY 1, 2),
        |fst AS (SELECT channel, CAST(count(*) AS BIGINT) AS first_touch
        |  FROM (SELECT channel, row_number() OVER (PARTITION BY u, grp
        |      ORDER BY ts, tb) AS rk FROM att) WHERE rk = 1 GROUP BY 1),
        |lst AS (SELECT channel, CAST(count(*) AS BIGINT) AS last_touch
        |  FROM (SELECT channel, row_number() OVER (PARTITION BY u, grp
        |      ORDER BY ts DESC, tb DESC) AS rk FROM att)
        |  WHERE rk = 1 GROUP BY 1),
        |lin AS (SELECT att.channel,
        |    round(sum(1.0 / pg.n), 6) AS linear_credit,
        |    CAST(count(*) AS BIGINT) AS n_touches
        |  FROM att JOIN pg USING (u, grp) GROUP BY 1)
        |SELECT lin.channel,
        |  coalesce(fst.first_touch, 0) AS first_touch,
        |  coalesce(lst.last_touch, 0) AS last_touch,
        |  lin.linear_credit, lin.n_touches
        |FROM lin LEFT JOIN fst ON fst.channel = lin.channel
        |LEFT JOIN lst ON lst.channel = lin.channel
        |ORDER BY lin.channel""".stripMargin,
    "q_assoc_rules" ->
      """WITH bk AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS it
        |  FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bk),
        |isup AS (SELECT it, CAST(count(*) AS BIGINT) AS sup
        |  FROM bk GROUP BY 1),
        |ps AS (SELECT a.it AS id_a, b2.it AS id_b,
        |    CAST(count(*) AS BIGINT) AS sp
        |  FROM bk a JOIN bk b2 ON a.b = b2.b AND a.it < b2.it
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT id_a, id_b, sp AS support_pair,
        |  sa.sup AS support_a, sb.sup AS support_b,
        |  round(CAST(sp AS DOUBLE) / sa.sup, 6) AS confidence_ab,
        |  round(CAST(sp AS DOUBLE) / sb.sup, 6) AS confidence_ba,
        |  round(CAST(sp AS DOUBLE) * n
        |    / (CAST(sa.sup AS DOUBLE) * sb.sup), 6) AS lift
        |FROM ps JOIN isup sa ON sa.it = ps.id_a
        |JOIN isup sb ON sb.it = ps.id_b CROSS JOIN nb
        |ORDER BY lift DESC, id_a, id_b LIMIT 30""".stripMargin,
    "q_holt_forecast" -> {
      // α/β and their complements printed from the Scala doubles so
      // both engines smooth with the same IEEE values
      val a = 0.3; val b = 0.1
      val oma = (1.0 - a).toString
      val omb = (1.0 - b).toString
      s"""WITH RECURSIVE daily AS (SELECT date_trunc('day', ts) AS d,
         |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
         |idx AS (SELECT d, y, row_number() OVER (ORDER BY d) AS i
         |  FROM daily),
         |hw(i, level, trend) AS (
         |  SELECT 1, round(CAST(y AS DOUBLE), 6),
         |    round(CAST((SELECT y FROM idx WHERE i = 2) - y AS DOUBLE), 6)
         |  FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT x.i,
         |    round($a * x.y + $oma * (h.level + h.trend), 6),
         |    round($b * (round($a * x.y + $oma * (h.level + h.trend), 6)
         |      - h.level) + $omb * h.trend, 6)
         |  FROM hw h JOIN idx x ON x.i = h.i + 1)
         |SELECT strftime(x.d, '%Y-%m-%d') AS day, x.y AS y, h.level,
         |  h.trend,
         |  CASE WHEN h.i = 1 THEN NULL
         |    ELSE round(hp.level + hp.trend, 6) END AS fitted
         |FROM hw h JOIN idx x ON x.i = h.i
         |LEFT JOIN hw hp ON hp.i = h.i - 1
         |ORDER BY day""".stripMargin
    },
    "q_forecast_backtest" -> {
      val a = 0.3; val b = 0.1
      val oma = (1.0 - a).toString
      val omb = (1.0 - b).toString
      val (horizon, nOrigins) = (3, 3)
      s"""WITH RECURSIVE daily AS (SELECT date_trunc('day', ts) AS d,
         |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
         |idx AS (SELECT d, y, row_number() OVER (ORDER BY d) AS i
         |  FROM daily),
         |dn AS (SELECT CAST(count(*) AS BIGINT) AS dc FROM idx),
         |org AS (SELECT i AS o FROM idx CROSS JOIN dn
         |  WHERE i >= dc - $horizon - $nOrigins + 2
         |    AND i <= dc - $horizon + 1),
         |bt(o, j, level, trend) AS (
         |  SELECT org.o, CAST(1 AS BIGINT), round(CAST(y AS DOUBLE), 6),
         |    round(CAST((SELECT y FROM idx WHERE i = 2) - y AS DOUBLE),
         |      6)
         |  FROM idx CROSS JOIN org WHERE idx.i = 1
         |  UNION ALL
         |  SELECT b.o, b.j + 1,
         |    round($a * x.y + $oma * (b.level + b.trend), 6),
         |    round($b * (round($a * x.y + $oma * (b.level + b.trend), 6)
         |      - b.level) + $omb * b.trend, 6)
         |  FROM bt b JOIN idx x ON x.i = b.j + 1
         |  WHERE b.j + 1 <= b.o - 1),
         |fin AS (SELECT o, level, trend FROM bt WHERE j = o - 1),
         |nv AS (SELECT org.o,
         |    round(CAST(sum(abs(b2.y - a2.y)) AS DOUBLE)
         |      / (org.o - 2), 6) AS dnv
         |  FROM org JOIN idx a2 ON a2.i >= 1
         |  JOIN idx b2 ON b2.i = a2.i + 1
         |  WHERE b2.i <= org.o - 1 GROUP BY 1),
         |hz AS (SELECT unnest([1, 2, 3]) AS h),
         |fc AS (SELECT f.o, hz.h,
         |    round(f.level + hz.h * f.trend, 6) AS forecast
         |  FROM fin f CROSS JOIN hz)
         |SELECT strftime(od.d, '%Y-%m-%d') AS origin_day,
         |  CAST(fc.h AS INT) AS h, fc.forecast, act.y AS actual,
         |  round(abs(fc.forecast - CAST(act.y AS DOUBLE))
         |    / CAST(act.y AS DOUBLE), 6) AS ape,
         |  round(abs(fc.forecast - CAST(act.y AS DOUBLE)) / nv.dnv, 6)
         |    AS ase
         |FROM fc
         |JOIN idx od ON od.i = fc.o - 1
         |JOIN idx act ON act.i = fc.o + fc.h - 1
         |JOIN nv ON nv.o = fc.o
         |ORDER BY origin_day, h""".stripMargin
    },
    "q_holt_winters" -> {
      // constants printed from the Scala doubles (holtWinters defaults)
      val a = 0.3; val b = 0.1; val g = 0.2
      val oma = (1.0 - a).toString
      val omb = (1.0 - b).toString
      val omg = (1.0 - g).toString
      // the recursion carries the 7-slot seasonal wheel as columns
      // s1..s7 (s1 = next to consume); each step rotates one slot.
      // nl (the already-rounded new level) repeats inline because a
      // recursive SELECT cannot reference its own aliases.
      val nl = s"round($a * (x.y - h.s1) + $oma * (h.level + h.trend), 6)"
      s"""WITH RECURSIVE daily AS (SELECT date_trunc('day', ts) AS d,
         |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
         |idx AS (SELECT d, y, row_number() OVER (ORDER BY d) AS i
         |  FROM daily),
         |m1 AS (SELECT round(sum(y) / 7.0, 6) AS m FROM idx WHERE i <= 7),
         |m2 AS (SELECT round(sum(y) / 7.0, 6) AS m FROM idx
         |  WHERE i > 7 AND i <= 14),
         |sv AS (SELECT i, round(y - m1.m, 6) AS s FROM idx CROSS JOIN m1
         |  WHERE i <= 7),
         |hw(i, level, trend, s1, s2, s3, s4, s5, s6, s7, fitted) AS (
         |  SELECT 7, m1.m, round((m2.m - m1.m) / 7.0, 6),
         |    (SELECT s FROM sv WHERE i = 1), (SELECT s FROM sv WHERE i = 2),
         |    (SELECT s FROM sv WHERE i = 3), (SELECT s FROM sv WHERE i = 4),
         |    (SELECT s FROM sv WHERE i = 5), (SELECT s FROM sv WHERE i = 6),
         |    (SELECT s FROM sv WHERE i = 7), CAST(NULL AS DOUBLE)
         |  FROM m1 CROSS JOIN m2
         |  UNION ALL
         |  SELECT h.i + 1,
         |    $nl,
         |    round($b * ($nl - h.level) + $omb * h.trend, 6),
         |    h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
         |    round($g * (x.y - $nl) + $omg * h.s1, 6),
         |    round(h.level + h.trend + h.s1, 6)
         |  FROM hw h JOIN idx x ON x.i = h.i + 1)
         |SELECT strftime(x.d, '%Y-%m-%d') AS day, x.y AS y, h.fitted,
         |  h.level, h.trend, h.s7 AS seasonal
         |FROM hw h JOIN idx x ON x.i = h.i WHERE h.i > 7
         |ORDER BY day""".stripMargin
    },
    "q_trend_robust" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |idx AS (SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT)
        |    AS i, y FROM daily),
        |p AS (SELECT a.i AS i, b.i AS j, a.y AS yi, b.y AS yj
        |  FROM idx a JOIN idx b ON b.i > a.i),
        |sl AS (SELECT
        |    round(quantile_cont((yj - yi) / CAST(j - i AS DOUBLE), 0.5), 6)
        |      AS slope,
        |    CAST(sum(CASE WHEN yj > yi THEN 1 WHEN yj < yi THEN -1
        |      ELSE 0 END) AS BIGINT) AS s_stat FROM p),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
        |tt AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
        |    AS BIGINT) AS tie_term
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
        |        GROUP BY y)),
        |ic AS (SELECT round(quantile_cont(y - slope * i, 0.5), 6)
        |    AS intercept FROM idx CROSS JOIN sl)
        |SELECT n AS n_days, slope, intercept, s_stat,
        |  round(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
        |    / 18.0, 6) AS var_s,
        |  round(CASE WHEN s_stat > 0 THEN (s_stat - 1)
        |      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
        |        / 18.0)
        |    WHEN s_stat < 0 THEN (s_stat + 1)
        |      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
        |        / 18.0)
        |    ELSE 0.0 END, 6) AS z
        |FROM sl CROSS JOIN nn CROSS JOIN tt CROSS JOIN ic""".stripMargin,
    "q_cusum" -> {
      val k = 0.5; val h = 4.0
      s"""WITH RECURSIVE daily AS (SELECT date_trunc('day', ts) AS d,
         |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
         |idx AS (SELECT d, y, row_number() OVER (ORDER BY d) AS i
         |  FROM daily),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(y AS DOUBLE) * y) AS syy FROM daily),
         |ms AS (SELECT round(CAST(sy AS DOUBLE) / n, 6) AS mu,
         |    round(sqrt((syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1)), 6)
         |      AS sigma FROM st),
         |zs AS (SELECT x.i, x.y, round((x.y - m.mu) / m.sigma, 6) AS z
         |  FROM idx x CROSS JOIN ms m),
         |cs(i, z, sp, sm) AS (
         |  SELECT i, z,
         |    round(greatest(CAST(0 AS DOUBLE), z - $k), 6),
         |    round(greatest(CAST(0 AS DOUBLE), -z - $k), 6)
         |  FROM zs WHERE i = 1
         |  UNION ALL
         |  SELECT q.i, q.z,
         |    round(greatest(CAST(0 AS DOUBLE), c.sp + q.z - $k), 6),
         |    round(greatest(CAST(0 AS DOUBLE), c.sm - q.z - $k), 6)
         |  FROM cs c JOIN zs q ON q.i = c.i + 1)
         |SELECT strftime(x.d, '%Y-%m-%d') AS day, x.y AS y, c.z,
         |  c.sp AS s_plus, c.sm AS s_minus,
         |  (c.sp > $h OR c.sm > $h) AS alarm
         |FROM cs c JOIN idx x ON x.i = c.i ORDER BY day""".stripMargin
    },
    "q_changepoint" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |p AS (SELECT a.d, CAST(count(*) AS BIGINT) AS n1,
        |    CAST(sum(b.y) AS BIGINT) AS s1,
        |    sum(CAST(b.y AS DOUBLE) * b.y) AS q1
        |  FROM daily a JOIN daily b ON b.d <= a.d GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS s,
        |    sum(CAST(y AS DOUBLE) * y) AS q FROM daily),
        |c AS (SELECT d, n1, n - n1 AS n2,
        |    round(CAST(s1 AS DOUBLE) / n1, 6) AS mean_before,
        |    round(CAST(s - s1 AS DOUBLE) / (n - n1), 6) AS mean_after,
        |    round((q - CAST(s AS DOUBLE) * s / n)
        |      - ((q1 - CAST(s1 AS DOUBLE) * s1 / n1)
        |        + ((q - q1)
        |          - CAST(s - s1 AS DOUBLE) * (s - s1) / (n - n1))), 6)
        |      AS gain
        |  FROM p CROSS JOIN t WHERE n1 < n)
        |SELECT strftime(d, '%Y-%m-%d') AS break_day, n1 AS n_before,
        |  n2 AS n_after, mean_before, mean_after, gain
        |FROM c ORDER BY gain DESC, d LIMIT 1""".stripMargin,
    "q_retention_cohorts" ->
      """WITH cohort AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        |  FROM events),
        |sizes AS (SELECT cw, count(*) AS n_cohort FROM cohort GROUP BY 1),
        |m AS (SELECT c.cw, date_diff('day', c.cw, a.w) // 7 AS k,
        |    count(*) AS n_active
        |  FROM cohort c JOIN active a ON c.user_id = a.user_id
        |  GROUP BY 1, 2)
        |SELECT strftime(m.cw, '%Y-%m-%d') AS cohort_week,
        |  CAST(m.k AS INT) AS k, m.n_active, s.n_cohort,
        |  round(CAST(m.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
        |FROM m JOIN sizes s ON m.cw = s.cw
        |ORDER BY cohort_week, k""".stripMargin,

    "q_resample_ffill" ->
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hour, ts,
        |    event_id, value FROM events),
        |r AS (SELECT user_id, hour, value, row_number() OVER (
        |    PARTITION BY user_id, hour ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e),
        |agg AS (SELECT user_id, hour, count(*) AS n_events FROM e GROUP BY 1, 2),
        |lastv AS (SELECT user_id, hour, value AS lv FROM r WHERE rn = 1),
        |spans AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |  FROM e GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM spans),
        |j AS (SELECT g.user_id, g.hour,
        |    coalesce(a.n_events, 0) AS n_events, l.lv
        |  FROM grid g
        |  LEFT JOIN agg a ON g.user_id = a.user_id AND g.hour = a.hour
        |  LEFT JOIN lastv l ON g.user_id = l.user_id AND g.hour = l.hour)
        |SELECT user_id, strftime(hour, '%Y-%m-%d %H') AS hour,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  last_value(lv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        |FROM j ORDER BY user_id, hour""".stripMargin,

    // the DENSE grid, sampled at the sparse gate's probe instants —
    // deliberately the formulation the engine does NOT use
    "q_resample_sparse" ->
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hour, ts,
        |    event_id, value FROM events),
        |r AS (SELECT user_id, hour, value, row_number() OVER (
        |    PARTITION BY user_id, hour ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e),
        |lastv AS (SELECT user_id, hour, value AS lv FROM r WHERE rn = 1),
        |spans AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |  FROM e GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM spans),
        |j AS (SELECT g.user_id, g.hour, l.lv
        |  FROM grid g
        |  LEFT JOIN lastv l ON g.user_id = l.user_id AND g.hour = l.hour),
        |f AS (SELECT user_id, hour,
        |    last_value(lv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        |  FROM j),
        |pr AS (SELECT user_id, unnest(generate_series(0, 4)) AS k,
        |    epoch_us(h0) AS h0us, epoch_us(h1) AS h1us FROM spans),
        |pp AS (SELECT user_id, k,
        |    h0us + k * ((h1us - h0us) // 3600000000 // 4) * 3600000000 AS pus
        |  FROM pr)
        |SELECT p.user_id, CAST(p.k AS INT) AS k,
        |  strftime(make_timestamp(p.pus), '%Y-%m-%d %H') AS hour,
        |  f.value_ffill
        |FROM pp p JOIN f ON f.user_id = p.user_id AND epoch_us(f.hour) = p.pus
        |ORDER BY 1, 2""".stripMargin,
    "q_decay_agg" -> {
      // the identical double constant the Spark plan embeds (shortest
      // round-trip decimal → same IEEE bits in both engines)
      val lam = -math.log(2) / 7.0
      s"""WITH tm AS (SELECT max(ts) AS tmax FROM events)
         |SELECT user_id,
         |  round(sum(value * exp(($lam) *
         |    (CAST(epoch_us(tm.tmax) - epoch_us(ts) AS DOUBLE) / 86400000000.0))), 4)
         |    AS decayed_value,
         |  count(*) AS n_events
         |FROM events CROSS JOIN tm
         |GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        | round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        | round(avg(l_quantity), 6) AS avg_qty,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_revenue_by_nation" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_join_broadcast_part" ->
      """SELECT p_brand, round(sum(l_quantity), 4) AS sum_qty,
        | round(avg(l_extendedprice), 6) AS avg_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_semi_join" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer
        |  WHERE c_nationkey = n_nationkey AND c_acctbal > 9000)
        |ORDER BY n_nationkey""".stripMargin,
    "q_topk_customers" ->
      """SELECT o_custkey, round(sum(o_totalprice), 4) AS total_spent,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY total_spent DESC, o_custkey ASC LIMIT 10""".stripMargin,
    "q_window_latest_order" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_window_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_lead_lag" ->
      """SELECT o_custkey, o_orderkey,
        | lag(o_orderkey, 1) OVER w AS prev_order,
        | lead(o_orderkey, 1) OVER w AS next_order,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_set_ops" ->
      """WITH wo AS (SELECT DISTINCT o_custkey AS k FROM orders),
        | hb AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
        |SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM wo EXCEPT SELECT k FROM hb)
        |UNION ALL
        |SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM wo INTERSECT SELECT k FROM hb)
        |UNION ALL
        |SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM wo UNION SELECT k FROM hb)
        |ORDER BY op""".stripMargin,
    "q_distinct_agg" ->
      """SELECT count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        |FROM lineitem""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_upper,
        | length(p_name) AS name_len,
        | substring(p_type, 1, 5) AS type_prefix,
        | regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
        | concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        | count(*) AS n_orders, round(sum(o_totalprice), 4) AS monthly_total
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q_events_hourly" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
        |ORDER BY event_id""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.e_us AS err_us,
        | c.c_us AS click_us,
        | e.e_us - c.c_us AS gap_us,
        | c.value AS click_value
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS e_us
        |      FROM events WHERE event_type = 'error') e
        |ASOF JOIN (
        |  -- microsecond domain (matching the engine's unix_micros) and a
        |  -- deterministic max-event_id winner among same-instant clicks,
        |  -- mirroring the engine's rightTiebreak
        |  SELECT user_id, epoch_us(ts) AS c_us,
        |         arg_max(value, event_id) AS value
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_us(ts)) c
        |  ON e.user_id = c.user_id AND e.e_us >= c.c_us
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_forward" ->
      """SELECT e.event_id, e.user_id, e.e_us AS err_us,
        | c.c_us AS click_us,
        | c.c_us - e.e_us AS gap_us,
        | c.value AS click_value
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS e_us
        |      FROM events WHERE event_type = 'error') e
        |ASOF JOIN (
        |  SELECT user_id, epoch_us(ts) AS c_us,
        |         arg_max(value, event_id) AS value
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_us(ts)) c
        |  ON e.user_id = c.user_id AND e.e_us <= c.c_us
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_tolerance" ->
      """SELECT e.event_id, c.c_us AS click_us, e.e_us - c.c_us AS gap_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS e_us
        |      FROM events WHERE event_type = 'error') e
        |ASOF JOIN (
        |  SELECT user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_us(ts)) c
        |  ON e.user_id = c.user_id AND e.e_us >= c.c_us
        |WHERE e.e_us - c.c_us <= 3600000000
        |ORDER BY e.event_id""".stripMargin,
    "q_range_join_count" ->
      """SELECT e.event_id, count(c.c_us) AS n_near
        |FROM (SELECT event_id, epoch_us(ts) AS e_us FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT epoch_us(ts) AS c_us FROM events
        |      WHERE event_type = 'click') c
        |  ON abs(e.e_us - c.c_us) <= 600000000
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
    "q_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us, value,
        |   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, us, value,
        |   sum(CASE WHEN prev_us IS NULL OR us - prev_us > 21600000000
        |        THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us
        |          ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM o)
        |SELECT user_id, min(us) AS start_us, max(us) AS last_us,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM m GROUP BY user_id, sess
        |ORDER BY user_id, start_us""".stripMargin,
    "q_event_transitions" ->
      """WITH t AS (SELECT event_type AS next_state,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_state
        |  FROM events),
        |c AS (SELECT prev_state, next_state, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE prev_state IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_state, sum(n) AS tt FROM c GROUP BY 1)
        |SELECT c.prev_state, c.next_state, c.n,
        |  round(CAST(c.n AS DOUBLE) / tt, 6) AS p
        |FROM c JOIN tot USING (prev_state)
        |ORDER BY 1, 2""".stripMargin,
    "q_approx_quantile_bounds" ->
      """SELECT l_returnflag, TRUE AS within_bounds
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_outer_join" ->
      """SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
        |            WHEN o_custkey IS NULL THEN 'cust_only'
        |            ELSE 'both' END AS side, count(*) AS n
        |FROM customer FULL JOIN
        |  (SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000
        |               ELSE o_custkey END AS o_custkey
        |   FROM orders WHERE o_totalprice > 150000) o
        |  ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        | round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_robust_stats" ->
      """WITH qs AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.10) AS p10,
        |    quantile_cont(l_extendedprice, 0.50) AS med,
        |    quantile_cont(l_extendedprice, 0.90) AS p90,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  round(any_value(qs.med), 6) AS median,
        |  round(quantile_cont(abs(l.l_extendedprice - qs.med), 0.5), 6) AS mad,
        |  round(avg(least(greatest(l.l_extendedprice, qs.p05), qs.p95)), 6)
        |    AS winsorized_mean,
        |  round(avg(CASE WHEN l.l_extendedprice BETWEEN qs.p10 AND qs.p90
        |    THEN l.l_extendedprice END), 6) AS trimmed_mean
        |FROM lineitem l JOIN qs ON l.l_returnflag = qs.l_returnflag
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_corr_stats" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
        | round(stddev_samp(l_quantity), 6) AS sd_qty,
        | round(var_samp(l_discount), 6) AS var_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_interval_join" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us, CAST(floor(value * 100000000.0) AS BIGINT) AS dur
        |  FROM events),
        |a AS (SELECT user_id, event_id AS a_id, us AS a_s, us + dur AS a_e
        |      FROM e WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, us AS b_s, us + dur AS b_e
        |      FROM e WHERE event_type = 'view'),
        |p AS (SELECT a.user_id, a_id, b_id,
        |        least(a_e, b_e) - greatest(a_s, b_s) AS ov
        |      FROM a JOIN b ON a.user_id = b.user_id
        |        AND a_s <= b_e AND b_s <= a_e)
        |SELECT user_id, count(*) AS n_pairs,
        | CAST(sum(ov) AS BIGINT) AS overlap_us
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 150000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_bloom_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 150000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        | round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        | round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        | round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        | round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | round(sum(o_totalprice), 4) AS total, count(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        | round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,
    "q_column_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.flatMap(c => Seq(
        s"SELECT '$c' AS col_name, 'count' AS stat, " +
          s"round(CAST(count($c) AS DOUBLE), 4) AS value FROM lineitem",
        s"SELECT '$c', 'mean', round(avg($c), 4) FROM lineitem",
        s"SELECT '$c', 'std', round(stddev_samp($c), 4) FROM lineitem",
        s"SELECT '$c', 'min', round(CAST(min($c) AS DOUBLE), 4) FROM lineitem",
        s"SELECT '$c', 'max', round(CAST(max($c) AS DOUBLE), 4) FROM lineitem"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name, stat")
    },
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        | SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |   round(l_quantity, 4) AS val FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |   round(l_extendedprice, 4) FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_discount',
        |   round(l_discount, 4) FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_tax',
        |   round(l_tax, 4) FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin
  )
}
