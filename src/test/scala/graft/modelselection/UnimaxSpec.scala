package graft.modelselection

import graft.SparkSpec

class UnimaxSpec extends SparkSpec {
  import spark.implicits._

  private def alloc(counts: Map[String, Long], budget: Long, epochs: Int) =
    Splits.unimaxAllocation(
      counts.toSeq.flatMap { case (g, n) => Seq((g, n)) }
        .toDF("lang", "n_toks"),
      "lang", "n_toks", budget, epochs)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r._4).toMap

  test("water level: caps bind for small groups, the rest split equally") {
    // caps (epochs=1): a=10, b=20, c=100; budget 60 → a,b capped,
    // c gets 60-30 = 30
    val a = alloc(Map("a" -> 10L, "b" -> 20L, "c" -> 100L), 60L, 1)
    assert(a("a") == 10.0 && a("b") == 20.0 && a("c") == 30.0)
  }

  test("allocation exhausts the budget exactly when caps allow") {
    val counts = Map("a" -> 13L, "b" -> 57L, "c" -> 911L, "d" -> 300L)
    val budget = 700L
    val a = alloc(counts, budget, 2)
    assert(math.abs(a.values.sum - budget.toDouble) < 1e-6)
    // epoch cap never exceeded
    counts.foreach { case (g, n) => assert(a(g) <= 2.0 * n + 1e-9) }
  }

  test("budget above the total cap: everything capped, budget under-used") {
    val a = alloc(Map("a" -> 10L, "b" -> 20L), 1000L, 2)
    assert(a("a") == 20.0 && a("b") == 40.0)
  }

  test("uncapped groups all receive the same theta") {
    val a = alloc(Map("a" -> 5L, "b" -> 500L, "c" -> 600L, "d" -> 700L), 400L, 1)
    assert(a("a") == 5.0)
    val thetas = Seq(a("b"), a("c"), a("d"))
    assert(thetas.distinct.size == 1)
    assert(math.abs(thetas.head - (400.0 - 5.0) / 3) < 1e-9)
  }

  test("the first group that misses its cap ends the capping") {
    // caps (epochs=1): a=10, b=11, c=100; budget 25. a misses
    // (10·3 > 25), so no later group is capped even though b alone
    // would fit (11·2 ≤ 25): every group gets 25/3
    val a = alloc(Map("a" -> 10L, "b" -> 11L, "c" -> 100L), 25L, 1)
    assert(a.values.toSet == Set(25.0 / 3), a)
  }
}
