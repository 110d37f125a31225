package graft.ensemble

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Memos

/** Gradient-boosted decision stumps over BINNED sufficient statistics —
  * the histogram-GBM training loop (Friedman 2001 squared-loss boosting;
  * the LightGBM/XGBoost-histogram representation) restructured for the
  * 100 TB regime: the corpus is touched EXACTLY ONCE, collapsing to a
  * (bin-vector → (count, Σy)) cell frame bounded by Π|bins| regardless
  * of corpus size; every boosting round is then arithmetic over that
  * tiny persisted frame (per-feature prefix scans + a 1-row argmax
  * collected to the driver — the §2.4 driver-coordinated pattern, same
  * as the KMeans/FS-EM gates). No residual recomputation ever re-reads
  * the corpus, because with binned features the model is constant on
  * cells.
  *
  * Exactness discipline: the ensemble score is carried as INTEGER
  * MICRO-UNITS (`f_micro`, 1e-6 of a label unit). Binary labels make
  * `Σy` integral, so per-cell residual mass `1e6·Σy − n·f_micro` is an
  * exact BIGINT and every aggregation over cells is order-independent —
  * the whole trajectory (split choices, gains, leaf deltas) replays
  * bit-for-bit in DuckDB integer arithmetic, with doubles appearing
  * only in fixed-order scalar expressions (gain, the rounded leaf
  * update).
  */
object Boosting {

  /** One boosting round: the chosen stump (feature by POSITION in the
    * features list — also the deterministic tiebreak order), its gain
    * (SSE reduction, rounded 6), and the shrunken leaf deltas in
    * micro-units. */
  case class BoostRound(round: Int, feature: String, threshold: Int,
      gain: Double, leftMicro: Long, rightMicro: Long)

  /** Fit `rounds` stumps with shrinkage `eta` on a boolean label.
    * @return (trajectory, final cell frame with columns
    *   (bin cols…, n, sy, f_micro)). */
  def fitBinned(df: DataFrame, features: Seq[(String, Column)],
      label: Column, rounds: Int, eta: Double): (Seq[BoostRound], DataFrame) = {
    require(features.nonEmpty && rounds >= 1 && eta > 0 && eta <= 1)
    val names = features.map(_._1)
    val binCols = names.map(n => col(s"__b_$n"))
    val cells = Memos.persist(df.select(
        features.map { case (n, c) => c.cast("int").as(s"__b_$n") } :+
          label.cast("boolean").cast("long").as("__y"): _*)
      .groupBy(binCols: _*)
      .agg(count(lit(1)).as("n"), sum("__y").as("sy")))

    var cur = cells.withColumn("f", lit(0L))
    val traj = (1 to rounds).map { t =>
      val resid = cur.withColumn("r",
        lit(1000000L) * col("sy") - col("n") * col("f"))
      val stats = resid.select(
          posexplode(array(binCols: _*)).as(Seq("__fi", "bin")),
          col("r"), col("n"))
        .groupBy("__fi", "bin")
        .agg(sum("r").as("S"), sum("n").as("N"))
      val tot = resid.agg(sum("r").as("St"), sum("n").as("Nt"))
      // prefix over each feature's bins: candidate threshold = left side
      val pref = stats.alias("a").join(stats.alias("b"),
          col("a.__fi") === col("b.__fi") && col("b.bin") <= col("a.bin"))
        .groupBy(col("a.__fi").as("fi"), col("a.bin").as("thr"))
        .agg(sum(col("b.S")).as("SL"), sum(col("b.N")).as("NL"))
      // gain = SSE reduction in label units; NR null-guarded (the
      // max-bin row is filtered, but ANSI may evaluate first)
      val nr = col("Nt") - col("NL")
      val nrSafe = when(nr =!= 0L, nr)
      val gains = pref.join(broadcast(tot))
        .where(col("NL") < col("Nt"))
        .select(col("fi"), col("thr"), col("SL"), col("NL"),
          (col("St") - col("SL")).as("SR"), nr.as("NR"),
          round(pow(col("SL") / lit(1000000.0), 2) / col("NL")
            + pow((col("St") - col("SL")) / lit(1000000.0), 2) / nrSafe
            - pow(col("St") / lit(1000000.0), 2) / col("Nt"), 6).as("gain"),
          round(lit(eta) * col("SL") / col("NL")).cast("long").as("ld"),
          round(lit(eta) * (col("St") - col("SL")) / nrSafe)
            .cast("long").as("rd"))
      val best = gains
        .orderBy(col("gain").desc, col("fi"), col("thr")).limit(1).head()
      val fi = best.getAs[Int]("fi")
      val thr = best.getAs[Int]("thr")
      val ld = best.getAs[Long]("ld")
      val rd = best.getAs[Long]("rd")
      cur = cur.withColumn("f", col("f")
        + when(col(s"__b_${names(fi)}") <= lit(thr), lit(ld)).otherwise(lit(rd)))
      BoostRound(t, names(fi), thr, best.getAs[Double]("gain"), ld, rd)
    }
    (traj, cur.withColumnRenamed("f", "f_micro"))
  }
}
