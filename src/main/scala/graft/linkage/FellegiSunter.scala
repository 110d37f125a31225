package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Memos

/** Fellegi–Sunter probabilistic record linkage (JASA 1969; Winkler's
  * EM estimation, and the model behind the public Splink engine) —
  * the principled upgrade of [[graft.relational.EntityResolution]]'s
  * distance-threshold matching: per-field agreement probabilities
  * under match (m_k) and non-match (u_k) learned by EM, combined into
  * a log-likelihood-ratio match weight and a posterior match
  * probability per candidate pair.
  *
  * Scale shape — the Splink insight: E- and M-steps depend on pairs
  * only through their agreement PATTERN, of which there are ≤ 2^K.
  * So the corpus-sized pair frame is aggregated ONCE into pattern
  * counts (one groupBy), and every EM iteration is arithmetic over
  * that ≤2^K-row frame crossed with a 1-row parameter frame — zero
  * corpus passes per iteration, any pair count. Final scoring
  * collects the single fitted parameter row (2K+1 bounded doubles)
  * and embeds it as LITERALS in one scan-fused projection — the
  * weights-in-plan pattern the quality classifier uses; see [[score]]
  * for why a broadcast param row would be slower.
  *
  * Determinism: parameters are quantized to `quantize` decimals and
  * clamped to [1e-6, 1−1e-6] at every iteration handoff — the
  * quantized-trajectory trick the KMeans/PageRank gates use — so an
  * independent engine replaying the iterations (chained CTEs, same
  * left-to-right product order) follows the identical trajectory.
  * [[emOracleCtes]] GENERATES that replay from the same parameters.
  */
object FellegiSunter {

  private val loClamp = 1e-6
  private val hiClamp = 0.999999

  /** λ · Π_k (γ_k ? m_k : 1−m_k) — built in field order so the SQL
    * mirror multiplies in the same sequence.
    */
  private def likeProd(fields: Seq[String], prefix: String,
      seed: Column): Column =
    fields.foldLeft(seed) { (acc, f) =>
      acc * when(col(f) === 1, col(s"${prefix}_$f"))
        .otherwise(lit(1.0) - col(s"${prefix}_$f"))
    }

  /** EM fit over candidate pairs with binary 0/1 agreement columns
    * `fields`. Returns the 1-row parameter frame
    * (lam, m_&lt;field&gt;…, u_&lt;field&gt;…), quantized per iteration.
    */
  def emFit(pairs: DataFrame, fields: Seq[String], iters: Int = 5,
      lambda0: Double = 0.1, m0: Double = 0.9, u0: Double = 0.1,
      quantize: Int = 9): DataFrame = {
    require(fields.nonEmpty, "emFit needs at least one comparison field")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = pairs.sparkSession
    // the ONLY corpus-sized pass: pairs → ≤2^K pattern counts
    val pat = Memos.persist(pairs
      .groupBy(fields.map(col): _*)
      .agg(count(lit(1)).cast("double").as("cnt"))
      .coalesce(1))

    val init = lit(lambda0).cast("double").as("lam") +:
      (fields.map(f => lit(m0).cast("double").as(s"m_$f")) ++
        fields.map(f => lit(u0).cast("double").as(s"u_$f")))
    var params = spark.range(1).select(init: _*)

    // null-preserving: Spark's greatest/least SKIP nulls, which would
    // turn a zero-pairs fit's null aggregates into 1e-6 and hide the
    // no-data condition from score()'s null-params guard
    def clampRound(c: Column): Column = when(c.isNull, lit(null))
      .otherwise(least(greatest(round(c, quantize), lit(loClamp)),
        lit(hiClamp)))

    for (_ <- 1 to iters) {
      val wm = likeProd(fields, "m", col("lam"))
      val wu = likeProd(fields, "u", lit(1.0) - col("lam"))
      val e = pat.crossJoin(broadcast(params))
        .withColumn("__p", wm / (wm + wu))
      // lam is clamped like m/u: a degenerate corpus (all patterns
      // identical) can drive it to exactly 0/1, which would zero wm or
      // wu and null every later iteration's params
      val aggs =
        clampRound(sum(col("cnt") * col("__p")) / sum(col("cnt")))
          .as("lam") +:
          (fields.map(f => clampRound(
            sum(col("cnt") * col("__p") * col(f)) /
              sum(col("cnt") * col("__p"))).as(s"m_$f")) ++
            fields.map(f => clampRound(
              sum(col("cnt") * (lit(1.0) - col("__p")) * col(f)) /
                sum(col("cnt") * (lit(1.0) - col("__p")))).as(s"u_$f")))
      params = e.agg(aggs.head, aggs.tail: _*)
    }
    params
  }

  /** Splink's `estimate_u_using_random_sampling`, made deterministic
    * and oracle-mirrorable: u_k — the probability field k agrees on a
    * RANDOM (non-match-dominated) pair — estimated from pairs drawn by
    * blocking on a pseudo-random key: bucket = h60(id, salt) mod B
    * with B ≈ n / bucketSize, so buckets hold ~bucketSize rows and
    * within-bucket pairs are ~uniform random pairs (≈ n·(bucketSize−1)/2
    * of them — LINEAR in the corpus, vs the true n²/2 pair space).
    *
    * Why it exists: blocked candidates from FINE rules are
    * match-dominated by construction — an EM run on them starves its
    * u-estimates (they pin at the clamps). The production pattern is
    * u from random pairs + EM for (lam, m) with u FIXED
    * ([[emFitFixedU]]) — this pair of functions is that pattern.
    *
    * `pairsOf` maps the bucketed self-join (columns `<f>_a`/`<f>_b`
    * per attribute) to the 0/1 agreement columns, so callers reuse
    * the exact agreement definitions their candidate pairs use.
    * Returns one row: u_<field> per field (quantized, clamped).
    */
  def uFromRandomPairs(df: DataFrame, idCol: String,
      attrs: Seq[String], pairsOf: DataFrame => DataFrame,
      fields: Seq[String], nBuckets: Long, salt: String = "urand",
      quantize: Int = 9): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val keyed = df.select((col(idCol) +: attrs.map(col)) :+
      pmod(graft.core.Hashing.h60(col(idCol).cast("string"), salt),
        lit(nBuckets)).as("__ub"): _*)
    val a = keyed.select(col("__ub").as("__uba") +:
      (col(idCol).as(s"${idCol}_a") +: attrs.map(c => col(c).as(s"${c}_a"))): _*)
    val b = keyed.select(col("__ub").as("__ubb") +:
      (col(idCol).as(s"${idCol}_b") +: attrs.map(c => col(c).as(s"${c}_b"))): _*)
    val pairs = pairsOf(a.join(b, col("__uba") === col("__ubb") &&
      col(s"${idCol}_a") < col(s"${idCol}_b")))
    // null-preserving (the emFit clampRound convention): zero drawn
    // pairs must surface as null u, not a fabricated 1e-6 prior
    val aggs = fields.map { f =>
      val a = round(avg(col(f).cast("double")), quantize)
      when(a.isNull, lit(null))
        .otherwise(least(greatest(a, lit(loClamp)), lit(hiClamp)))
        .as(s"u_$f")
    }
    pairs.agg(aggs.head, aggs.tail: _*)
  }

  /** The u-estimator's SQL mirror: the same h60 bucket join, the same
    * agreement expressions (caller-supplied, aliased to the field
    * names), the same clamped rounded averages. `rel` must expose
    * `idCol` and the attribute columns.
    */
  def uFromRandomPairsSql(rel: String, idCol: String,
      agreeExprs: Seq[(String, String)], nBucketsExpr: String,
      salt: String = "urand", quantize: Int = 9): String = {
    val h = s"(('0x' || substr(md5('$salt' || CAST($idCol AS VARCHAR))" +
      s", 1, 15))::BIGINT)"
    val us = agreeExprs.map { case (f, _) =>
      s"CASE WHEN round(avg(CAST($f AS DOUBLE)), $quantize) IS NULL " +
        s"THEN NULL ELSE " +
        s"least(greatest(round(avg(CAST($f AS DOUBLE)), $quantize), " +
        s"CAST($loClamp AS DOUBLE)), CAST($hiClamp AS DOUBLE)) END AS u_$f"
    }
    val gs = agreeExprs.map { case (f, e) => s"$e AS $f" }.mkString(", ")
    s"""ub AS (SELECT *, $h % ($nBucketsExpr) AS __ub FROM $rel),
       |upairs AS (SELECT $gs
       |  FROM ub a JOIN ub b
       |    ON a.__ub = b.__ub AND a.$idCol < b.$idCol),
       |uparams AS (SELECT ${us.mkString(", ")} FROM upairs)""".stripMargin
  }

  /** EM with u FIXED (the Splink loop after random-sampling u): only
    * lam and m update; every iteration is still arithmetic over the
    * ≤2^K pattern frame. `uFixed` values embed as literals.
    */
  def emFitFixedU(pairs: DataFrame, fields: Seq[String],
      uFixed: Map[String, Double], iters: Int = 5, lambda0: Double = 0.1,
      m0: Double = 0.9, quantize: Int = 9): DataFrame = {
    require(fields.nonEmpty, "emFitFixedU needs at least one field")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(fields.forall(uFixed.contains), "uFixed must cover every field")
    val spark = pairs.sparkSession
    val pat = Memos.persist(pairs
      .groupBy(fields.map(col): _*)
      .agg(count(lit(1)).cast("double").as("cnt"))
      .coalesce(1))
    val init = lit(lambda0).cast("double").as("lam") +:
      fields.map(f => lit(m0).cast("double").as(s"m_$f"))
    var params = spark.range(1).select(init: _*)
    def clampRound(c: Column): Column = when(c.isNull, lit(null))
      .otherwise(least(greatest(round(c, quantize), lit(loClamp)),
        lit(hiClamp)))
    val wuProd = fields.foldLeft(lit(1.0) - col("lam")) { (acc, f) =>
      acc * when(col(f) === 1, lit(uFixed(f)))
        .otherwise(lit(1.0) - lit(uFixed(f)))
    }
    for (_ <- 1 to iters) {
      val wm = likeProd(fields, "m", col("lam"))
      val e = pat.crossJoin(broadcast(params))
        .withColumn("__p", wm / (wm + wuProd))
      val aggs =
        clampRound(sum(col("cnt") * col("__p")) / sum(col("cnt")))
          .as("lam") +:
          fields.map(f => clampRound(
            sum(col("cnt") * col("__p") * col(f)) /
              sum(col("cnt") * col("__p"))).as(s"m_$f"))
      params = e.agg(aggs.head, aggs.tail: _*)
    }
    // emit the full (lam, m…, u…) surface so score() consumes it as-is
    params.select(col("lam") +: (fields.map(f => col(s"m_$f")) ++
      fields.map(f => lit(uFixed(f)).cast("double").as(s"u_$f"))): _*)
  }

  /** Fixed-u EM replay as chained CTEs (mirrors [[emFitFixedU]]):
    * `pat` from `pairsRel`, then eT/itT per iteration. The u values
    * are read from `uRel` (one row, u_&lt;field&gt; columns — normally
    * the `uparams` CTE from [[uFromRandomPairsSql]]): the Scala side
    * embeds the COLLECTED u row as literals, the SQL side references
    * the CTE that computes the identical quantized values — same
    * doubles either way, so the replay stays bit-exact. Caller
    * appends the final SELECT (against it&lt;iters&gt;, uRel).
    */
  def emFixedUOracleCtes(pairsRel: String, fields: Seq[String],
      uRel: String, iters: Int, lambda0: Double = 0.1,
      m0: Double = 0.9, quantize: Int = 9): String = {
    val gs = fields.mkString(", ")
    val pat = s"""pat AS (SELECT $gs, CAST(count(*) AS DOUBLE) AS cnt
                 |  FROM $pairsRel GROUP BY $gs)""".stripMargin
    val it0 = s"it0 AS (SELECT CAST($lambda0 AS DOUBLE) AS lam, " +
      fields.map(f => s"CAST($m0 AS DOUBLE) AS m_$f").mkString(", ") + ")"
    def clampRound(x: String): String = // null-preserving like the
      // Scala side: DuckDB's greatest/least also SKIP nulls
      s"CASE WHEN ($x) IS NULL THEN NULL ELSE " +
        s"least(greatest(round($x, $quantize), CAST($loClamp AS DOUBLE)), " +
        s"CAST($hiClamp AS DOUBLE)) END"
    val wu = fields.foldLeft("(1.0-lam)") { (acc, f) =>
      s"$acc*(CASE WHEN $f=1 THEN u_$f ELSE 1.0-u_$f END)"
    }
    val its = (1 to iters).flatMap { t =>
      val wm = sqlLikeProd(fields, "m", "lam")
      val e = s"""e$t AS (SELECT cnt, $gs, ($wm)/(($wm)+($wu)) AS p
                 |  FROM pat, it${t - 1}, $uRel)""".stripMargin
      val ms = fields.map(f =>
        clampRound(s"sum(cnt*p*$f)/sum(cnt*p)") + s" AS m_$f")
      val it = s"it$t AS (SELECT " + clampRound("sum(cnt*p)/sum(cnt)") +
        s" AS lam, ${ms.mkString(", ")} FROM e$t)"
      Seq(e, it)
    }
    (pat +: it0 +: its).mkString(",\n")
  }

  /** Score pairs with a fitted (or fixed) parameter frame: appends
    * `match_weight` = log2(Π m-terms / Π u-terms) — the classic FS
    * log-likelihood-ratio — and `posterior` = P(match | γ).
    *
    * The 1-row frame is COLLECTED (9 bounded doubles — the
    * weights-in-plan pattern the quality classifier uses) and embedded
    * as literals: a broadcast-joined param row would put the scoring
    * expression behind a BroadcastNestedLoopJoin, whose projection is
    * NOT whole-stage-codegen'd — interpreted evaluation of the nested
    * CASE products cost ~10 s over 4.5M pairs; as a literal scan
    * projection it codegens and fuses.
    */
  def score(pairs: DataFrame, fields: Seq[String], params: DataFrame,
      quantize: Int = 6): DataFrame = {
    // degenerate params (0-row frame; or emFit over ZERO pairs, whose
    // single aggregate row holds null lam/m/u) score as all-null —
    // the same null-propagating result the lazy broadcast-join form
    // produced, instead of a driver unboxing crash
    val rows = params.collect()
    val nullScores = pairs
      .withColumn("match_weight", lit(null).cast("double"))
      .withColumn("posterior", lit(null).cast("double"))
    if (rows.isEmpty) return nullScores.limit(0)
    val r = rows(0)
    if (r.isNullAt(r.fieldIndex("lam"))) return nullScores
    scoreWithValues(pairs, fields, r.getAs[Double]("lam"),
      fields.map(f => f -> r.getAs[Double](s"m_$f")).toMap,
      fields.map(f => f -> r.getAs[Double](s"u_$f")).toMap, quantize)
  }

  /** The literal-parameter scoring projection (see [[score]]). Values
    * embed bit-exactly, so the SQL mirror computing the same products
    * from its replayed it-CTE row matches hash-for-hash.
    */
  def scoreWithValues(pairs: DataFrame, fields: Seq[String], lam: Double,
      m: Map[String, Double], u: Map[String, Double],
      quantize: Int = 6): DataFrame = {
    def prod(vals: Map[String, Double]): Column =
      fields.foldLeft(lit(1.0): Column) { (acc, f) =>
        acc * when(col(f) === 1, lit(vals(f)))
          .otherwise(lit(1.0) - lit(vals(f)))
      }
    val pm = prod(m)
    val pu = prod(u)
    pairs
      .withColumn("match_weight", round(log2(pm / pu), quantize))
      .withColumn("posterior",
        round(lit(lam) * pm /
          (lit(lam) * pm + (lit(1.0) - lit(lam)) * pu), quantize))
  }

  // ---- generated oracle mirror ----------------------------------------

  private def sqlLikeProd(fields: Seq[String], prefix: String,
      seed: String): String =
    fields.foldLeft(seed) { (acc, f) =>
      s"$acc*(CASE WHEN $f=1 THEN ${prefix}_$f ELSE 1.0-${prefix}_$f END)"
    }

  /** The EM replay as chained CTEs: `pat` (from `pairsRel`, which must
    * expose the 0/1 `fields`), `it0` literals, then eT/itT per
    * iteration with the identical product order, round, and clamp.
    * The caller appends a final SELECT against `it&lt;iters&gt;` (params
    * gate) or pairs × `it&lt;iters&gt;` (scored gate, [[scoreOracleSelect]]).
    */
  def emOracleCtes(pairsRel: String, fields: Seq[String], iters: Int,
      lambda0: Double = 0.1, m0: Double = 0.9, u0: Double = 0.1,
      quantize: Int = 9): String = {
    val gs = fields.mkString(", ")
    val pat = s"""pat AS (SELECT $gs, CAST(count(*) AS DOUBLE) AS cnt
                 |  FROM $pairsRel GROUP BY $gs)""".stripMargin
    val it0 = s"it0 AS (SELECT CAST($lambda0 AS DOUBLE) AS lam, " +
      (fields.map(f => s"CAST($m0 AS DOUBLE) AS m_$f") ++
        fields.map(f => s"CAST($u0 AS DOUBLE) AS u_$f")).mkString(", ") + ")"
    def clampRound(x: String): String = // null-preserving like the
      // Scala side: DuckDB's greatest/least also SKIP nulls
      s"CASE WHEN ($x) IS NULL THEN NULL ELSE " +
        s"least(greatest(round($x, $quantize), CAST($loClamp AS DOUBLE)), " +
        s"CAST($hiClamp AS DOUBLE)) END"
    val its = (1 to iters).flatMap { t =>
      val wm = sqlLikeProd(fields, "m", "lam")
      val wu = sqlLikeProd(fields, "u", "(1.0-lam)")
      val e = s"""e$t AS (SELECT cnt, $gs, ($wm)/(($wm)+($wu)) AS p
                 |  FROM pat, it${t - 1})""".stripMargin
      val ms = fields.map(f =>
        clampRound(s"sum(cnt*p*$f)/sum(cnt*p)") + s" AS m_$f")
      val us = fields.map(f =>
        clampRound(s"sum(cnt*(1.0-p)*$f)/sum(cnt*(1.0-p))") + s" AS u_$f")
      val it = s"it$t AS (SELECT " +
        clampRound("sum(cnt*p)/sum(cnt)") +
        s" AS lam, ${(ms ++ us).mkString(", ")} FROM e$t)"
      Seq(e, it)
    }
    (pat +: it0 +: its).mkString(",\n")
  }

  /** Final-scoring SELECT body mirroring [[score]] (append after the
    * CTes, FROM &lt;pairsRel&gt;, it&lt;iters&gt;).
    */
  def scoreOracleSelect(fields: Seq[String], quantize: Int = 6): String = {
    val pm = sqlLikeProd(fields, "m", "1.0")
    val pu = sqlLikeProd(fields, "u", "1.0")
    s"round(log2(($pm)/($pu)), $quantize) AS match_weight, " +
      s"round(lam*($pm)/(lam*($pm)+(1.0-lam)*($pu)), $quantize) AS posterior"
  }
}
