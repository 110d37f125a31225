package graft.recommend

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{ExactAgg, Hashing, Rounds}

/** Implicit-feedback matrix factorization by alternating least squares
  * (Hu, Koren & Volinsky, "Collaborative filtering for implicit
  * feedback datasets", ICDM 2008) — the recommender counterpart of the
  * [[graft.llmdata.Glove]] ALS fit, with the two ideas that make the
  * implicit setting tractable at scale:
  *
  *  - CONFIDENCE weighting: every (user, item) cell is a preference
  *    p = 1 (observed) or 0 (unobserved) with confidence
  *    c = 1 + α·x over the interaction strength x — so the loss runs
  *    over ALL n_users × n_items cells, observed or not;
  *  - the GRAM TRICK: because unobserved cells share c = 1, p = 0, the
  *    normal equation for user u is
  *    (YᵀY + Σ_obs(u) (c−1)·y yᵀ + λI) x_u = Σ_obs(u) c·y
  *    — YᵀY is ONE tiny aggregate over the item-factor frame (shared
  *    by every user), and the per-user correction sums only over that
  *    user's OBSERVED items. The quadratic cell space never
  *    materializes.
  *
  * Scale posture: each half-step is one groupBy over the interaction
  * frame joined to the opposite factor table (a plain equi-join — AQE
  * broadcasts it at test scale; at 100 TB the user side shuffles, which
  * is the correct plan) plus a broadcast 1-row Gram frame. The rank d
  * is a parameter: the per-key d×d system is solved by the native
  * [[graft.functions.CholeskySolve]] kernel, which the oracle replays
  * op for op through [[graft.core.CholeskySql]] (the
  * [[graft.llmdata.Glove]] convention).
  *
  * Exactness (the quantized-trajectory convention): confidences are
  * rounded at construction, the Gram entries and every solved factor
  * are rounded 6 at each handoff, init factors are h60 draws — so a
  * chained-CTE oracle replays the full trajectory.
  */
object ImplicitAls {

  val Alpha = 0.1
  val Lambda = 0.1

  /** Per-dim h60 init draws ([[Hashing.initDraw]]) under the
    * `${salt}${dim}:` salt family, dim 1-based. */
  private[recommend] def initFactors(ids: DataFrame, d: Int,
      salt: String): DataFrame =
    ids.select((col("id") +: (1 to d).map(i =>
      Hashing.initDraw(col("id"), s"$salt$i:").as(s"f$i"))): _*)

  /** Confidence frame (user, item, c) from raw interactions —
    * c = 1 + α·x, quantized at construction (handoff rule). */
  def confidences(interactions: DataFrame, userCol: String,
      itemCol: String, strengthCol: String,
      alpha: Double = Alpha): DataFrame =
    interactions.select(col(userCol).as("user"), col(itemCol).as("item"),
      round(lit(1.0) + lit(alpha) * col(strengthCol).cast("double"), 6)
        .as("c"))

  /** One HKV half-step: solve `solveKey` factors given `otherKey`
    * factors. Gram = one aggregate over the WHOLE opposite factor
    * frame (d(d+1)/2 round-6 entries, broadcast as 1 row); the per-key
    * correction is one groupBy over the confidence frame; the system
    * A = Gram + S (+λI inside the kernel) is solved by
    * [[graft.functions.CholeskySolve]], round-6 handoff.
    *
    * Every trajectory sum goes through [[ExactAgg.sumMicro]]: these
    * unrounded sums feed the solve and then a round-6 handoff, and a
    * plain double sum's accumulation order is engine- AND run-
    * nondeterministic (DuckDB's parallel aggregation flipped
    * q_als_implicit_d8 across a .5e-6 boundary ~50% of check runs in
    * r14) — micro-unit integer accumulation makes both engines compute
    * the identical pre-rounding value by construction.
    */
  private[recommend] def half(conf: DataFrame, solveKey: String,
      otherKey: String, factors: DataFrame, lambda: Double,
      d: Int): DataFrame = {
    val gramAggs = (for (i <- 0 until d; j <- i until d) yield
      round(ExactAgg.sumMicro(col(s"f${i + 1}") * col(s"f${j + 1}")), 6)
        .as(s"__g_${i}_$j")).toSeq
    val gram = factors.agg(gramAggs.head, gramAggs.tail: _*)
    val ySel = col("id").as(otherKey) +:
      (1 to d).map(i => col(s"f$i").as(s"__y$i"))
    val sAggs = (for (i <- 0 until d; j <- i until d) yield
      ExactAgg.sumMicro(
        (col("c") - 1.0) * col(s"__y${i + 1}") * col(s"__y${j + 1}"))
        .as(s"__s_${i}_$j")).toSeq
    val bAggs = (0 until d).map(i =>
      ExactAgg.sumMicro(col("c") * col(s"__y${i + 1}")).as(s"__b_$i"))
    val aggs = sAggs ++ bAggs
    val sol = graft.functions.CholeskySolve(
      array((for (i <- 0 until d; j <- i until d) yield
        col(s"__g_${i}_$j") + col(s"__s_${i}_$j")).toSeq: _*),
      array((0 until d).map(i => col(s"__b_$i")): _*), lambda)
    conf
      .join(factors.select(ySel: _*), Seq(otherKey))
      .groupBy(col(solveKey).as("id"))
      .agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(gram))
      .select((col("id") +: (0 until d).map(i =>
        round(element_at(sol, i + 1), 6).as(s"f${i + 1}"))): _*)
  }

  /** Fit rank-d factors over `alternations` full ALS rounds. Returns
    * (id, role['user'/'item'], f1..fd). The item side is what a
    * similar-items consumer feeds to [[graft.llmdata.Ann.knnGraph]];
    * scoring a bounded user probe set rides [[recommendTopK]].
    *
    * Cache lifecycle: fit caches an ALIASED projection of `conf` for
    * its own half-steps and RELEASES it before returning (repeat fits
    * must not accumulate cached copies — see the unpersist below).
    * The alias matters: persist/unpersist key on the analyzed plan, so
    * persisting `conf` itself would make fit's release silently drop a
    * cache entry the CALLER created on the same frame (the r13 ADVICE
    * finding). The aliased copy still reads through a caller's cached
    * `conf` if one exists; a caller with no cache of its own re-pays
    * the conf lineage (one scan + rollup) after fit returns.
    */
  def fit(conf: DataFrame, d: Int, alternations: Int = 2,
      lambda: Double = Lambda, salt: String = "als"): DataFrame = {
    require(alternations >= 1, s"need alternations >= 1, got $alternations")
    require(d >= 1, s"need d >= 1, got $d")
    val base = conf.select(conf.columns.map(col).toIndexedSeq: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val items0 = Rounds.materialize(initFactors(
      base.select(col("item").as("id")).distinct(), d, s"${salt}i"))
    // half-steps 1..2a−1 alternate users (odd) and items (even); the
    // last, items from the returned users, runs after the loop
    val users = Rounds.iterate(items0, 2 * alternations - 1) { (f, r) =>
      if (r % 2 == 1) half(base, "user", "item", f, lambda, d)
      else half(base, "item", "user", f, lambda, d)
    }
    val items =
      Rounds.materialize(half(base, "item", "user", users, lambda, d))
    // factors are materialized — lineage no longer needs the cached
    // confidence frame, so release it (repeat fits in one session must
    // not accumulate cached copies)
    base.unpersist(blocking = false)
    val fCols = (1 to d).map(i => col(s"f$i"))
    users.select((col("id") +: lit("user").as("role") +: fCols): _*)
      .unionByName(
        items.select((col("id") +: lit("item").as("role") +: fCols): _*))
  }

  /** The full HKV objective on given rank-d factor frames (spec
    * surface — asserts ALS non-increase per half-step):
    * Σ_ALL cells c·(p − x·y)² + λ(Σ‖x‖² + Σ‖y‖²), with unobserved
    * cells at c = 1, p = 0. Evaluated WITHOUT materializing the cell
    * space via the same Gram identity the solver uses:
    * Σ_all (x·y)² = Σ_u xᵀ(YᵀY)x.
    */
  def loss(conf: DataFrame, users: DataFrame, items: DataFrame, d: Int,
      lambda: Double = Lambda): Double = {
    val gAggs = (for (i <- 1 to d; j <- 1 to d) yield
      sum(col(s"f$i") * col(s"f$j")).as(s"g_${i}_$j")).toSeq
    val g = items.agg(gAggs.head, gAggs.tail: _*).head()
    val gv = (for (i <- 1 to d; j <- 1 to d) yield
      (i, j) -> g.getDouble((i - 1) * d + (j - 1))).toMap
    val allTerm = users.select(
      (for (i <- 1 to d; j <- 1 to d) yield
        col(s"f$i") * col(s"f$j") * gv((i, j))).reduce(_ + _).as("__q"))
      .agg(sum("__q")).head().getDouble(0)
    val uSel = col("id").as("user") +:
      (1 to d).map(i => col(s"f$i").as(s"__u$i"))
    val iSel = col("id").as("item") +:
      (1 to d).map(i => col(s"f$i").as(s"__i$i"))
    val dot = (1 to d).map(i => col(s"__u$i") * col(s"__i$i"))
      .reduce(_ + _)
    val obsTerm = conf
      .join(users.select(uSel: _*), Seq("user"))
      .join(items.select(iSel: _*), Seq("item"))
      .select((col("c") * pow(lit(1.0) - dot, 2) - pow(dot, 2)).as("__t"))
      .agg(sum("__t")).head().getDouble(0)
    def ridge(df: DataFrame): Double = df
      .select((1 to d).map(i => col(s"f$i") * col(s"f$i"))
        .reduce(_ + _).as("__r"))
      .agg(sum("__r")).head().getDouble(0)
    allTerm + obsTerm + lambda * (ridge(users) + ridge(items))
  }

  /** DuckDB CTE chain replaying [[fit]] — h60 item init draws, then one
    * (Gram, solve) CTE pair per half-step: round-6 Gram entries and a
    * normal-equation + nested-Cholesky solve ([[graft.core.CholeskySql]]),
    * every handoff rounded exactly as the engine rounds — over a
    * PRE-EXISTING `ac(u_id, i_id, c)` confidence CTE. Ends in
    * `afinal(id, role, f1..fd)` and keeps `au{n}` / `ai{n}` (final
    * user / item factors) addressable for downstream oracles. Plain
    * WITH (no recursion).
    *
    * `+ 0.0` on each handoff: DuckDB's round can emit -0.0, Spark's
    * (BigDecimal-based) cannot.
    */
  def alsCtes(d: Int, alternations: Int = 2, lambda: Double = Lambda,
      salt: String = "als"): String = {
    val fOut = (0 until d).map(i => s"round(x_$i, 6) + 0.0 AS f${i + 1}")
      .mkString(",\n    ")
    val fList = (1 to d).map(i => s"f$i").mkString(", ")
    def gram(out: String, fTab: String) = {
      val entries = (for (i <- 0 until d; j <- i until d) yield
        s"round(${ExactAgg.sqlSumMicro(s"f${i + 1} * f${j + 1}")}, 6)" +
          s" AS g_${i}_$j")
        .mkString(", ")
      s"$out AS (SELECT $entries FROM $fTab)"
    }
    def solve(out: String, key: String, other: String, fTab: String,
        gTab: String) = {
      val sSums = (for (i <- 0 until d; j <- i until d) yield
        s"${ExactAgg.sqlSumMicro(s"(c.c - 1.0) * y.f${i + 1} * y.f${j + 1}")}" +
          s" AS s_${i}_$j")
        .mkString(", ")
      val bSums = (0 until d).map(i =>
        s"${ExactAgg.sqlSumMicro(s"c.c * y.f${i + 1}")} AS b_$i")
        .mkString(", ")
      val inner = s"(SELECT * FROM (SELECT c.$key AS id, $sSums, $bSums " +
        s"FROM ac c JOIN $fTab y ON y.id = c.$other GROUP BY 1) " +
        s"CROSS JOIN $gTab)"
      val solved = graft.core.CholeskySql.nestedSolve(d, lambda, inner,
        a = (i, j) => s"(g_${i}_$j + s_${i}_$j)")
      s"""$out AS MATERIALIZED (SELECT id,
         |    $fOut
         |  FROM $solved)""".stripMargin
    }
    val steps = (1 to alternations).map { t =>
      val prevItems = if (t == 1) "ai0" else s"ai${t - 1}"
      gram(s"agu$t", prevItems) + ",\n" +
        solve(s"au$t", "u_id", "i_id", prevItems, s"agu$t") + ",\n" +
        gram(s"agi$t", s"au$t") + ",\n" +
        solve(s"ai$t", "i_id", "u_id", s"au$t", s"agi$t")
    }.mkString(",\n")
    val drawCols = (1 to d).map(i =>
      s"${Hashing.sqlInitDraw("id", s"${salt}i$i:")} AS f$i")
      .mkString(",\n    ")
    s"""ai0 AS MATERIALIZED (SELECT id,
       |    $drawCols
       |  FROM (SELECT DISTINCT i_id AS id FROM ac)),
       |$steps,
       |afinal AS (SELECT id, 'user' AS role, $fList
       |    FROM au$alternations
       |  UNION ALL
       |  SELECT id, 'item' AS role, $fList FROM ai$alternations)""".stripMargin
  }

  /** Top-k recommendations for a BOUNDED user probe frame (one column
    * `user`): score = x_u·y_i over every item, already-interacted items
    * anti-joined away, per-user bounded-heap top-k (never a corpus
    * window). The probe×item fan-out is |probe|·|items| — the caller
    * bounds |probe|; full-catalog serving goes through the ANN family
    * on the item factors instead.
    */
  def recommendTopK(factors: DataFrame, conf: DataFrame,
      probeUsers: DataFrame, k: Int): DataFrame = {
    val uf = factors.filter(col("role") === "user")
      .join(probeUsers, col("id") === col("user"))
      .select(col("user"), col("f1").as("__u1"), col("f2").as("__u2"))
    val itf = factors.filter(col("role") === "item")
      .select(col("id").as("item"), col("f1").as("__i1"),
        col("f2").as("__i2"))
    val scored = uf.crossJoin(broadcast(itf))
      .join(conf.select(col("user"), col("item"), lit(1).as("__seen")),
        Seq("user", "item"), "left")
      .filter(col("__seen").isNull)
      .select(col("user"), col("item"),
        round(col("__u1") * col("__i1") + col("__u2") * col("__i2"), 6)
          .as("score"))
    scored.groupBy("user")
      .agg(graft.functions.TopKByScore(col("score"),
        col("item").cast("long"), k).as("__top"))
      .select(col("user"), posexplode(col("__top")).as(Seq("__r", "__s")))
      .select(col("user"), (col("__r") + 1).as("rank"),
        col("__s.id").as("item"), col("__s.score").as("score"))
  }
}
