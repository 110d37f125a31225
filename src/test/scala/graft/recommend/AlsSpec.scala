package graft.recommend

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AlsSpec extends SparkSpec {
  import spark.implicits._

  // 3 users × 4 items, partial observation with varied strengths
  private def rawConf = Seq(
    (1L, 10L, 3.0), (1L, 11L, 1.5),
    (2L, 11L, 2.0), (2L, 12L, 4.0),
    (3L, 10L, 1.0), (3L, 13L, 5.0), (3L, 12L, 2.5))
    .toDF("user", "item", "c")

  private def itemFactors = Seq(
    (10L, 0.05, -0.02), (11L, -0.03, 0.08),
    (12L, 0.07, 0.01), (13L, -0.06, -0.04))
    .toDF("id", "f1", "f2")

  test("gram-trick half-step equals the dense all-cells normal equation") {
    val lambda = 0.1
    val got = ImplicitAls.half(rawConf, "user", "item", itemFactors, lambda,
      d = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // independent dense replay: A_u = Σ_ALL items c_ui·y yᵀ + λI with
    // c = 1 on unobserved cells; b_u = Σ_obs c·y (p = 1 observed only)
    val items = Map(10L -> (0.05, -0.02), 11L -> (-0.03, 0.08),
      12L -> (0.07, 0.01), 13L -> (-0.06, -0.04))
    val obs = rawConf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (u <- Seq(1L, 2L, 3L)) {
      var (a11, a12, a22, b1, b2) = (lambda, 0.0, lambda, 0.0, 0.0)
      for ((i, (y1, y2)) <- items) {
        val c = obs.getOrElse((u, i), 1.0)
        a11 += c * y1 * y1; a12 += c * y1 * y2; a22 += c * y2 * y2
        if (obs.contains((u, i))) { b1 += c * y1; b2 += c * y2 }
      }
      val det = a11 * a22 - a12 * a12
      val (e1, e2) = (r6((a22 * b1 - a12 * b2) / det),
        r6((a11 * b2 - a12 * b1) / det))
      val (g1, g2) = got(u)
      assert(math.abs(g1 - e1) <= 1e-6 && math.abs(g2 - e2) <= 1e-6,
        s"user $u: got ($g1,$g2) want ($e1,$e2)")
    }
  }

  test("loss is non-increasing across half-steps") {
    val lambda = ImplicitAls.Lambda
    val d = 2
    var items = ImplicitAls.initFactors(
      rawConf.select(col("item").as("id")).distinct(), d, "alsi")
    var users = ImplicitAls.half(rawConf, "user", "item", items, lambda, d)
    var prev = ImplicitAls.loss(rawConf, users, items, d, lambda)
    for (_ <- 1 to 3) {
      items = ImplicitAls.half(rawConf, "item", "user", users, lambda, d)
      val l1 = ImplicitAls.loss(rawConf, users, items, d, lambda)
      assert(l1 <= prev + 1e-6, s"item step must not increase: $prev -> $l1")
      users = ImplicitAls.half(rawConf, "user", "item", items, lambda, d)
      val l2 = ImplicitAls.loss(rawConf, users, items, d, lambda)
      assert(l2 <= l1 + 1e-6, s"user step must not increase: $l1 -> $l2")
      prev = l2
    }
  }

  test("fit is deterministic and covers both roles") {
    def run() = ImplicitAls.fit(rawConf, d = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3))).sortBy(t => (t._2, t._1)).toSeq
    val a = run(); val b = run()
    assert(a == b, "trajectory must be deterministic")
    assert(a.count(_._2 == "user") == 3 && a.count(_._2 == "item") == 4)
  }

  test("recommendTopK excludes seen items, ranks by (score desc, id)") {
    val factors = ImplicitAls.fit(rawConf, d = 2)
    val probe = Seq(1L, 2L).toDF("user")
    val recs = ImplicitAls.recommendTopK(factors, rawConf, probe, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    // user 1 saw {10, 11} → candidates {12, 13}; user 2 saw {11, 12}
    // → candidates {10, 13}; k = 2 keeps both, ranked by score
    val byUser = recs.groupBy(_._1)
    assert(byUser(1L).map(_._3).toSet == Set(12L, 13L))
    assert(byUser(2L).map(_._3).toSet == Set(10L, 13L))
    for ((_, rows) <- byUser) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        "rank must follow score desc")
    }
    // and an independent dot-product replay for user 1's top pick
    val f = factors.collect().map(r => (r.getString(1), r.getLong(0))
      -> (r.getDouble(2), r.getDouble(3))).toMap
    val (u1, u2) = f(("user", 1L))
    def score(i: Long) = {
      val (i1, i2) = f(("item", i))
      BigDecimal(u1 * i1 + u2 * i2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val top = byUser(1L).minBy(_._2)
    assert(top._3 == Seq(12L, 13L).maxBy(i => (score(i), -i)),
      "top pick must be the max-score candidate")
    assert(top._4 ~== score(top._3))
  }
}
