package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{ExactAgg, Hashing, Memos, Rounds}

/** Distributed GloVe embedding fit by alternating least squares
  * (Pennington, Socher & Manning EMNLP'14 objective; ALS in place of
  * AdaGrad SGD — each half-step is the EXACT ridge solve for one
  * factor side given the other, the standard distributed matrix-
  * factorization recipe). This closes the in-engine loop
  * graph → walks → pairs → co-occurrence → VECTORS → ANN: the fit
  * consumes [[SkipGram.cooccurrenceCounts]]'s (center, context, x)
  * frame and its output feeds [[Ann.knnGraph]] directly.
  *
  * Objective (bias-free form): J = Σ_ij f(x_ij) (wᵢ·cⱼ − ln x_ij)²
  * + λ(Σ‖w‖² + Σ‖c‖²), f(x) = min((x/xmax)^α, 1). Dropping GloVe's
  * scalar biases keeps each half-step a d×d ridge system per token,
  * solved by the native [[graft.functions.CholeskySolve]] kernel; the
  * oracle replays the same op sequence through
  * [[graft.core.CholeskySql]], so every rank rides one code path.
  *
  * Scale posture: each half-step is ONE groupBy over the co-occurrence
  * frame (vocab-pair-bounded, never corpus-sized) against the BROADCAST
  * opposite factor table (vocab-bounded); d(d+1)/2 + d aggregate
  * columns of map-side-combined partial sums. No driver math beyond
  * plan construction; half-steps are separate bounded jobs, one
  * [[graft.core.Rounds]] round each.
  *
  * Exactness (the PageRank/GBT quantized-trajectory convention): f and
  * y = ln x are rounded to 6 decimals at construction, every solved
  * factor is rounded to 6 decimals at each half-step handoff, and the
  * init factors are exact h60-hash draws — so the oracle replays the
  * whole trajectory as chained CTEs.
  */
object Glove {

  val Xmax = 100.0
  val Alpha = 0.75
  val Lambda = 0.01

  /** Init factor frame for a (token) vocabulary — per-dim h60 draws
    * ([[Hashing.initDraw]]) under the `${salt}${dim}:` salt family,
    * dim 1-based. */
  private[llmdata] def initFactors(tokens: DataFrame, d: Int,
      salt: String = "glove"): DataFrame =
    tokens.select((col("token") +: (1 to d).map(i =>
      Hashing.initDraw(col("token"), s"$salt$i:").as(s"f$i"))): _*)

  /** One ridge half-step: solve the `solveKey` factors given the
    * `otherKey` factors — a single groupBy of the weighted normal
    * equations (d(d+1)/2 + d map-side-combined sums) against the
    * broadcast factor table, solved per token by
    * [[graft.functions.CholeskySolve]], round-6 handoff.
    */
  private[llmdata] def half(base: DataFrame, solveKey: String,
      otherKey: String, factors: DataFrame, lambda: Double,
      d: Int): DataFrame = {
    val gSel = col("token").as(otherKey) +:
      (1 to d).map(i => col(s"f$i").as(s"__g$i"))
    val aAggs = for (i <- 0 until d; j <- i until d)
      yield ExactAgg.sumMicro(
        col("__f") * col(s"__g${i + 1}") * col(s"__g${j + 1}"))
        .as(s"__a_${i}_$j")
    val bAggs = (0 until d).map(i =>
      ExactAgg.sumMicro(col("__f") * col("__y") * col(s"__g${i + 1}"))
        .as(s"__b_$i"))
    val aggs = (aAggs ++ bAggs).toSeq
    val sol = graft.functions.CholeskySolve(
      array((for (i <- 0 until d; j <- i until d)
        yield col(s"__a_${i}_$j")).toSeq: _*),
      array((0 until d).map(i => col(s"__b_$i")): _*), lambda)
    base
      .join(broadcast(factors.select(gSel: _*)), Seq(otherKey))
      .groupBy(col(solveKey).as("token"))
      .agg(aggs.head, aggs.tail: _*)
      .select((col("token") +: (0 until d).map(i =>
        round(element_at(sol, i + 1), 6).as(s"f${i + 1}"))): _*)
  }

  /** Weighted frame (center, context, __f, __y) from a co-occurrence
    * frame — f and y quantized at construction (handoff rule).
    */
  def weighted(cooc: DataFrame, xmax: Double = Xmax,
      alpha: Double = Alpha): DataFrame =
    cooc.select(col("center"), col("context"),
      round(least(pow(col("x") / lit(xmax), lit(alpha)), lit(1.0)), 6)
        .as("__f"),
      round(log(col("x")), 6).as("__y"))

  /** Fit rank-d factors over `alternations` full ALS rounds. Returns
    * (token, role, f1..fd) for both factor sides ('center'/'context' —
    * a word2vec-style consumer averages or concatenates them; the
    * center side is what [[Ann.knnGraph]] gates consume).
    */
  def fit(cooc: DataFrame, d: Int, alternations: Int = 2,
      xmax: Double = Xmax, alpha: Double = Alpha, lambda: Double = Lambda,
      salt: String = "glove"): DataFrame = {
    require(alternations >= 1, s"need alternations >= 1, got $alternations")
    require(d >= 1, s"need d >= 1, got $d")
    val base = Memos.persist(weighted(cooc, xmax, alpha))
    val ctx0 = Rounds.materialize(initFactors(
      base.select(col("context").as("token")).distinct(), d, salt))
    // half-steps 1..2a−1 alternate centers (odd) and contexts (even);
    // the last, contexts from the returned centers, runs after the loop
    val cen = Rounds.iterate(ctx0, 2 * alternations - 1) { (f, r) =>
      if (r % 2 == 1) half(base, "center", "context", f, lambda, d)
      else half(base, "context", "center", f, lambda, d)
    }
    val ctx =
      Rounds.materialize(half(base, "context", "center", cen, lambda, d))
    val fCols = (1 to d).map(i => col(s"f$i"))
    cen.select((col("token") +: lit("center").as("role") +: fCols): _*)
      .unionByName(
        ctx.select((col("token") +: lit("context").as("role") +: fCols): _*))
  }

  /** Penalized objective on given rank-d factor frames (spec surface —
    * asserts ALS non-increase per half-step).
    */
  def loss(base: DataFrame, cen: DataFrame, ctx: DataFrame, d: Int,
      lambda: Double = Lambda): Double = {
    val dot = (1 to d).map(i => col(s"__w$i") * col(s"__c$i"))
      .reduce(_ + _)
    val fitTerm = base
      .join(cen.select((col("token").as("center") +: (1 to d).map(i =>
        col(s"f$i").as(s"__w$i"))): _*), Seq("center"))
      .join(ctx.select((col("token").as("context") +: (1 to d).map(i =>
        col(s"f$i").as(s"__c$i"))): _*), Seq("context"))
      .select((col("__f") * pow(dot - col("__y"), 2)).as("__t"))
      .agg(sum("__t")).head().getDouble(0)
    def ridge(df: DataFrame): Double = df
      .select((1 to d).map(i => col(s"f$i") * col(s"f$i"))
        .reduce(_ + _).as("__r"))
      .agg(sum("__r")).head().getDouble(0)
    fitTerm + lambda * (ridge(cen) + ridge(ctx))
  }

  /** The ALS trajectory CTEs replaying [[fit]] — h60 per-dim init
    * draws, one normal-equation + nested-Cholesky solve CTE per
    * half-step ([[graft.core.CholeskySql]] emits the kernel's exact op
    * sequence), every handoff rounded exactly as the engine rounds —
    * over a PRE-EXISTING `gb(center, context, f, y)` CTE, so any
    * co-occurrence source (document windows, walk corpora) chains into
    * the same replay. Ends in `gfinal(token, role, f1..fd)` and keeps
    * `gw{n}` (final center factors) addressable for downstream
    * oracles. Token ids stringify via CAST AS VARCHAR, matching the
    * engine's h60 key cast for both strings and longs. Plain WITH (no
    * recursion).
    *
    * `+ 0.0` on each handoff: DuckDB's round can emit -0.0, Spark's
    * (BigDecimal-based) cannot.
    */
  def alsCtes(d: Int, alternations: Int = 2): String = {
    val fOut = (0 until d).map(i => s"round(x_$i, 6) + 0.0 AS f${i + 1}")
      .mkString(",\n    ")
    def solve(out: String, key: String, other: String, fTab: String) = {
      val aSums = (for (i <- 0 until d; j <- i until d) yield
        s"${ExactAgg.sqlSumMicro(s"b.f * g.f${i + 1} * g.f${j + 1}")}" +
          s" AS a_${i}_$j")
        .mkString(", ")
      val bSums = (0 until d).map(i =>
        s"${ExactAgg.sqlSumMicro(s"b.f * b.y * g.f${i + 1}")} AS b_$i")
        .mkString(", ")
      val inner = s"(SELECT b.$key AS token, $aSums, $bSums " +
        s"FROM gb b JOIN $fTab g ON g.token = b.$other GROUP BY 1)"
      s"""$out AS MATERIALIZED (SELECT token,
         |    $fOut
         |  FROM ${graft.core.CholeskySql.nestedSolve(d, Lambda, inner)})""".stripMargin
    }
    val steps = (1 to alternations).map { t =>
      val prevCtx = if (t == 1) "gc0" else s"gc${t - 1}"
      solve(s"gw$t", "center", "context", prevCtx) + ",\n" +
        solve(s"gc$t", "context", "center", s"gw$t")
    }.mkString(",\n")
    val drawCols = (1 to d).map(i =>
      s"${Hashing.sqlInitDraw("token", s"glove$i:")} AS f$i")
      .mkString(",\n    ")
    val fList = (1 to d).map(i => s"f$i").mkString(", ")
    s"""gc0 AS MATERIALIZED (SELECT token,
       |    $drawCols
       |  FROM (SELECT DISTINCT context AS token FROM gb)),
       |$steps,
       |gfinal AS (SELECT token, 'center' AS role, $fList
       |    FROM gw$alternations
       |  UNION ALL
       |  SELECT token, 'context' AS role, $fList FROM gc$alternations)""".stripMargin
  }

  /** The q_glove_cooc-equivalent co-occurrence + weighted-frame CTEs
    * (window 2, minX 1.5 on `documents`), ending in
    * `gb(center, context, f, y)`. */
  private def coocCteSql: String =
    s"""d AS MATERIALIZED (SELECT doc_id,
       |    string_split(text, ' ') AS t FROM documents),
       |tk AS MATERIALIZED (SELECT doc_id, t,
       |    unnest(range(len(t))) AS pos FROM d),
       |pr AS MATERIALIZED (SELECT doc_id, t, pos, unnest(range(
       |      CASE WHEN pos - 2 > 0 THEN pos - 2 ELSE 0 END,
       |      CASE WHEN pos + 3 < len(t) THEN pos + 3 ELSE len(t) END))
       |    AS cp
       |  FROM tk),
       |cx AS MATERIALIZED (SELECT t[pos + 1] AS center, t[cp + 1] AS context,
       |    round(sum(CAST(1 AS DOUBLE) / abs(pos - cp)), 6) AS x
       |  FROM pr WHERE cp <> pos
       |  GROUP BY 1, 2
       |  HAVING round(sum(CAST(1 AS DOUBLE) / abs(pos - cp)), 6) >= 1.5),
       |gb AS MATERIALIZED (SELECT center, context,
       |    round(least(power(x / $Xmax, $Alpha), 1.0), 6) AS f,
       |    round(ln(x), 6) AS y FROM cx)""".stripMargin

  /** [[alsCtes]] over the q_glove_cooc frame (window 2, minX 1.5 on
    * `documents`) — the q_glove_fit / q_glove_knn replay. */
  def gloveCteSql(d: Int, alternations: Int = 2): String =
    s"$coocCteSql,\n${alsCtes(d, alternations)}"
}
