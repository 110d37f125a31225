package graft.preprocessing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filter-method feature selection (the sklearn `SelectKBest` family —
  * `feature_selection/_univariate_selection.py` semantics re-expressed
  * for discrete/discretized features): per-feature mutual information
  * and the chi-square statistic of the (feature-bin × class) contingency
  * table, computed for EVERY candidate feature in ONE corpus pass.
  *
  * The caller supplies each feature's discretization as a Column (the
  * honest contract — binning policy is a modeling decision); the scan
  * explodes each row to (feature, bin, label) triples — a ×|features|
  * map-side fan-out of three narrow columns — and everything downstream
  * is arithmetic over the ≤ Σ|bins|·|classes| contingency frame. No
  * per-feature corpus passes, no windows, no collect.
  */
object FeatureSelection {

  /** Per-feature association scores against a label.
    * @param features (name, binned value) pairs; bins are cast to string
    *   so heterogeneous features coexist in one frame.
    * @return one row per feature: (feature, n_bins, n_classes, mi, chi2,
    *   dof) — mi in nats on the empirical joint, chi2 the independence
    *   statistic Σ (o−e)²/e with e = rowTotal·colTotal/N.
    */
  def scores(df: DataFrame, features: Seq[(String, Column)],
      label: Column): DataFrame = {
    require(features.nonEmpty, "scores needs at least one feature")
    val cells = df.select(
        posexplode(array(features.map(_._2.cast("string")): _*))
          .as(Seq("__f", "bin")),
        label.cast("string").as("label"))
      .groupBy("__f", "bin", "label").agg(count(lit(1)).as("n_xy"))
    val names = features.map(_._1)
    // shared by four branches (margins ×3 + the join spine) — eager
    // persist kills the concurrent duplicate scans (FanOut.shared doc)
    val withName = graft.core.FanOut.shared(
      cells.withColumn("feature",
        element_at(array(names.map(lit): _*), col("__f") + 1)))
    // margins off the contingency frame (tiny): per-feature bin totals,
    // class totals, and grand total
    val rowM = withName.groupBy("feature", "bin")
      .agg(sum("n_xy").as("n_x"))
    val colM = withName.groupBy("feature", "label")
      .agg(sum("n_xy").as("n_y"))
    val tot = withName.groupBy("feature").agg(sum("n_xy").as("n"))
    withName
      .join(rowM, Seq("feature", "bin"))
      .join(colM, Seq("feature", "label"))
      .join(tot, Seq("feature"))
      .groupBy(col("feature"))
      .agg(
        countDistinct(col("bin")).as("n_bins"),
        countDistinct(col("label")).as("n_classes"),
        // counts multiply as DOUBLE, not BIGINT: long×long wraps
        // silently in non-ANSI mode once n_xy·n exceeds 2^63 (~3e9
        // rows squared — certain at the 100 TB regime); double keeps
        // exactness below 2^53 and degrades gracefully above
        round(sum((col("n_xy") / col("n"))
          * log(col("n_xy").cast("double") * col("n")
            / (col("n_x").cast("double") * col("n_y")))), 6)
          .as("mi"),
        round(sum(pow(col("n_xy")
            - col("n_x").cast("double") * col("n_y") / col("n"), 2)
          / (col("n_x").cast("double") * col("n_y") / col("n")))
          // absent cells (n_xy = 0) still contribute e to chi2:
          // Σ_present (o−e)²/e + Σ_absent e = Σ_present ((o−e)²/e − e) + N
          - sum(col("n_x").cast("double") * col("n_y") / col("n"))
          + first(col("n")), 6).as("chi2"),
        ((countDistinct(col("bin")) - 1)
          * (countDistinct(col("label")) - 1)).as("dof"))
  }

  /** Top-k features by mutual information (name tiebreak) — the
    * SelectKBest surface. The score frame is ≤ |features| rows, so the
    * ordered prefix is driver-bounded by construction. */
  def selectKBest(scoreFrame: DataFrame, k: Int): DataFrame =
    scoreFrame.orderBy(col("mi").desc, col("feature")).limit(k)

  /** Pairwise feature–feature mutual information for every unordered
    * feature pair, in ONE corpus pass — the redundancy term mRMR
    * needs. Same explode-to-cells shape as [[scores]]: each row fans
    * out to |F|·(|F|−1)/2 (pair, bin_a, bin_b) triples and everything
    * downstream is arithmetic over the ≤ Σ|bins_a|·|bins_b| joint
    * contingency frame.
    *
    * @return one row per unordered pair (features-order endpoints):
    *   (feature_a, feature_b, mi), mi rounded 6.
    */
  def pairScores(df: DataFrame, features: Seq[(String, Column)]): DataFrame = {
    require(features.size >= 2, "pairScores needs at least two features")
    require(features.forall(!_._1.contains("|")),
      "feature names must not contain '|'")
    val pairStructs = for {
      i <- features.indices; j <- (i + 1) until features.size
    } yield struct(
      lit(features(i)._1 + "|" + features(j)._1).as("p"),
      features(i)._2.cast("string").as("ba"),
      features(j)._2.cast("string").as("bb"))
    // shared by four branches — eager persist (FanOut.shared doc)
    val cells = graft.core.FanOut.shared(df
      .select(explode(array(pairStructs: _*)).as("__e"))
      .select(col("__e.p").as("pair"), col("__e.ba").as("ba"),
        col("__e.bb").as("bb"))
      .groupBy("pair", "ba", "bb").agg(count(lit(1)).as("n_xy")))
    val rowM = cells.groupBy("pair", "ba").agg(sum("n_xy").as("n_x"))
    val colM = cells.groupBy("pair", "bb").agg(sum("n_xy").as("n_y"))
    val tot = cells.groupBy("pair").agg(sum("n_xy").as("n"))
    cells
      .join(rowM, Seq("pair", "ba"))
      .join(colM, Seq("pair", "bb"))
      .join(tot, Seq("pair"))
      .groupBy("pair")
      .agg(round(sum((col("n_xy") / col("n"))
        * log(col("n_xy").cast("double") * col("n")
          / (col("n_x").cast("double") * col("n_y")))), 6).as("mi"))
      .select(split(col("pair"), "\\|").getItem(0).as("feature_a"),
        split(col("pair"), "\\|").getItem(1).as("feature_b"),
        col("mi"))
  }

  /** mRMR greedy feature selection (Peng, Long & Ding, TPAMI 2005 —
    * the MID "relevance − mean redundancy" criterion): rank 1 is the
    * max-MI feature; each later rank maximizes
    *
    *   score(f) = MI(f, label) − (1/|S|)·Σ_{g ∈ S} MI(f, g)
    *
    * over the unpicked features, ties to the smaller name. Both MI
    * inputs arrive ALREADY rounded 6 (the [[scores]]/[[pairScores]]
    * outputs), and each step's score is re-rounded before the argmax —
    * the quantized-handoff rule that lets an independent engine replay
    * the greedy path exactly.
    *
    * The greedy itself runs on the driver over the two collected
    * frames — ≤|F| + |F|² bounded rows (features are tens, never
    * corpus-sized); the corpus work is the two one-pass scans that
    * produced them.
    *
    * @return (rnk, feature, score) for ranks 1..k
    */
  def mrmrSelect(scoreFrame: DataFrame, pairFrame: DataFrame,
      k: Int): DataFrame = {
    val spark = scoreFrame.sparkSession
    import spark.implicits._
    val rel = scoreFrame.select(col("feature"), col("mi")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val red = pairFrame.collect().flatMap { r =>
      val (a, b, m) = (r.getString(0), r.getString(1), r.getDouble(2))
      Seq((a, b) -> m, (b, a) -> m)
    }.toMap
    require(k >= 1 && k <= rel.size, s"need 1 <= k <= ${rel.size}, got $k")
    val picked = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    while (picked.size < k) {
      val scored = rel.keysIterator
        .filterNot(f => picked.exists(_._1 == f))
        .map { f =>
          val s =
            if (picked.isEmpty) rel(f)
            else rel(f) - picked.map(p => red((f, p._1))).sum / picked.size
          f -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
        }.toSeq
      picked += scored.minBy { case (f, s) => (-s, f) }
    }
    picked.toSeq.zipWithIndex
      .map { case ((f, s), i) => (i + 1, f, s) }
      .toDF("rnk", "feature", "score")
  }
}
