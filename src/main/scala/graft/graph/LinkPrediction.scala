package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction (Adamic & Adar 2003; Liben-Nowell &
  * Kleinberg CIKM'03) — score NON-adjacent pairs by
  * Σ_{z ∈ Γ(u)∩Γ(v)} 1/ln(deg z): shared rare neighbors count more
  * than shared hubs. The recommender / ER-candidate-expansion
  * primitive over co-occurrence graphs.
  *
  * Scale shape: everything is edge-sized equi-joins — adjacency is the
  * symmetrized distinct edge frame, wedges come from ONE self-join
  * pivoting on the common neighbor, existing edges leave via a
  * broadcast-able left-anti join. Wedge volume is Σ_z deg(z)², so hub
  * pivots dominate at scale: `maxDegree` drops pivots above the cap
  * BEFORE the wedge join — the industry neighbor-list-truncation
  * mitigation, deterministic (a degree filter, not a sample) and
  * recall-traded explicitly. Pivots always have deg ≥ 2 by wedge
  * construction, so 1/ln(deg) is finite.
  */
object LinkPrediction {

  /** Top-k non-adjacent pairs by Adamic–Adar score.
    * @param pairs undirected edges (id_a, id_b), duplicates allowed
    * @param maxDegree drop wedge pivots with degree above this
    * @return (id_a, id_b, common_neighbors, aa) — aa rounded 6, ranked
    *   (aa DESC, id_a, id_b), id_a < id_b */
  def adamicAdar(pairs: DataFrame, k: Int,
      maxDegree: Option[Int] = None): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val (scored, _) = wedgeScores(pairs, maxDegree)
    scored.orderBy(col("aa").desc, col("u"), col("v")).limit(k)
      .select(col("u").as("id_a"), col("v").as("id_b"),
        col("common_neighbors"), col("aa"))
  }

  /** The full classic link-prediction score family (Liben-Nowell &
    * Kleinberg CIKM'03 survey; resource allocation per Zhou, Lü &
    * Zhang 2009) in ONE wedge pass — beside [[adamicAdar]]'s single
    * score, the comparison table a link-prediction user actually
    * evaluates:
    *
    *  - common_neighbors |Γu ∩ Γv|
    *  - jaccard          |Γu ∩ Γv| / |Γu ∪ Γv|
    *  - aa               Σ 1/ln(deg z)   (Adamic–Adar)
    *  - ra               Σ 1/deg z       (resource allocation)
    *  - pa               deg u · deg v   (preferential attachment)
    *
    * Same scale shape as [[adamicAdar]]: one degree-capped wedge
    * self-join, a left-anti against existing edges, one rollup, then
    * two equi-joins of the pair endpoints against the TINY degree
    * frame for the union/PA terms. Ranked (aa desc, id_a, id_b).
    */
  def linkScores(pairs: DataFrame, k: Int,
      maxDegree: Option[Int] = None): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val (scored, deg) = wedgeScores(pairs, maxDegree)
    val withDeg = scored
      .join(deg.select(col("z").as("u"), col("deg").as("__du")), Seq("u"))
      .join(deg.select(col("z").as("v"), col("deg").as("__dv")), Seq("v"))
      .select(col("u"), col("v"), col("common_neighbors"), col("aa"),
        col("ra"),
        round(col("common_neighbors").cast("double")
          / (col("__du") + col("__dv") - col("common_neighbors"))
            .cast("double"), 6).as("jaccard"),
        (col("__du") * col("__dv")).as("pa"))
    withDeg.orderBy(col("aa").desc, col("u"), col("v")).limit(k)
      .select(col("u").as("id_a"), col("v").as("id_b"),
        col("common_neighbors"), col("jaccard"), col("aa"), col("ra"),
        col("pa"))
  }

  /** The one wedge pass: scored non-adjacent pairs (u, v,
    * common_neighbors, aa, ra) with u < v and both scores rounded 6,
    * and the degree frame (z, deg). */
  private def wedgeScores(pairs: DataFrame,
      maxDegree: Option[Int]): (DataFrame, DataFrame) = {
    val edges = pairs.select(
        least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val adj = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
    val deg = adj.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    val pivots = maxDegree.fold(deg)(cap => deg.where(col("deg") <= cap))
    val half = adj.join(pivots, adj("src") === pivots("z"))
      .select(col("z"), col("dst"), col("deg"))
    val wedges = half.alias("a").join(half.alias("b"),
        col("a.z") === col("b.z") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"),
        col("a.deg").as("zdeg"))
    val scored = wedges
      .join(edges, Seq("u", "v"), "left_anti") // predict NON-edges only
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(lit(1.0) / log(col("zdeg"))), 6).as("aa"),
        round(sum(lit(1.0) / col("zdeg")), 6).as("ra"))
    (scored, deg)
  }
}
