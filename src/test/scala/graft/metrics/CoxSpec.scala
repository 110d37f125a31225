package graft.metrics

import graft.SparkSpec

class CoxSpec extends SparkSpec {
  import spark.implicits._

  // (duration, event, x)
  private def run(rows: Seq[(Long, Boolean, Double)]) =
    Survival.coxOneStep(rows.toDF("duration", "churned", "x"),
      "duration", "churned", "x").head()

  /** Independent replay: direct risk-set loops over the raw rows. */
  private def reference(rows: Seq[(Long, Boolean, Double)]): (Double, Double) = {
    val times = rows.filter(_._2).map(_._1).distinct.sorted
    var (u, i) = (0.0, 0.0)
    for (t <- times) {
      val risk = rows.filter(_._1 >= t)
      val deaths = rows.filter(r => r._1 == t && r._2)
      val s0 = risk.size.toDouble
      val s1 = risk.map(_._3).sum
      val s2 = risk.map(r => r._3 * r._3).sum
      val d = deaths.size.toDouble
      u += deaths.map(_._3).sum - d * (s1 / s0)
      i += d * (s2 / s0 - (s1 / s0) * (s1 / s0))
    }
    (u, i)
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("score and information match the direct risk-set replay") {
    val rows = Seq(
      (1L, true, 2.0), (2L, true, 5.0), (2L, false, 1.0),
      (3L, true, 4.0), (3L, true, 3.0), (5L, false, 6.0),
      (6L, true, 1.0), (8L, false, 2.0))
    val got = run(rows)
    val (u, i) = reference(rows)
    assert(got.getAs[Double]("u_score") ~== (r6(u), 1e-6))
    assert(got.getAs[Double]("information") ~== (r6(i), 1e-6))
    assert(got.getAs[Double]("beta_onestep") ~== (r6(u / i), 1e-6))
    assert(got.getAs[Long]("n_events") == 5L)
  }

  test("binary covariate, no ties: score test IS the log-rank chi2") {
    // distinct durations, all events → the hypergeometric (n−d)/(n−1)
    // correction is 1 and the two statistics coincide exactly
    val rows = Seq(
      (1L, true, 1.0), (2L, true, 0.0), (3L, true, 1.0),
      (4L, true, 0.0), (5L, true, 0.0), (6L, true, 1.0),
      (7L, true, 0.0), (8L, true, 1.0))
    val cox = run(rows).getAs[Double]("score_chi2")
    val lr = Survival.logRank(
        rows.map { case (t, e, x) => (t, e, if (x > 0) "g1" else "g0") }
          .toDF("duration", "churned", "grp"),
        "duration", "churned", "grp")
      .head().getAs[Double]("chi2")
    assert(cox ~== (lr, 1e-6), s"cox $cox vs logrank $lr")
  }

  test("a protective covariate gets a negative hazard coefficient") {
    // higher x → strictly longer survival; every early death has the
    // lowest x in its risk set, so U < 0 and β̂ < 0
    val rows = (1 to 10).map(i => (i.toLong, true, i.toDouble))
    val got = run(rows)
    assert(got.getAs[Double]("u_score") < 0)
    assert(got.getAs[Double]("beta_onestep") < 0)
    // and the mirrored covariate flips the sign exactly
    val mirrored = run((1 to 10).map(i => (i.toLong, true, -i.toDouble)))
    assert(mirrored.getAs[Double]("u_score")
      ~== (-got.getAs[Double]("u_score"), 1e-6))
  }

  test("ties use Breslow: tied deaths share the same risk-set moments") {
    val rows = Seq(
      (2L, true, 1.0), (2L, true, 3.0), (2L, false, 2.0),
      (4L, true, 5.0))
    val got = run(rows)
    val (u, i) = reference(rows)
    assert(got.getAs[Double]("u_score") ~== (r6(u), 1e-6))
    assert(got.getAs[Double]("information") ~== (r6(i), 1e-6))
  }

  test("a non-integer covariate is rejected, naming the addend") {
    val e = intercept[Exception](run(Seq(
      (1L, true, 1.0), (2L, true, 0.5), (3L, false, 2.0))))
    assert(e.getMessage.contains("addend __sx = 0.5"), e.getMessage)
  }
}
