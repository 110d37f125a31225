package graft.llmdata

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GloveSpec extends SparkSpec {

  private def cooc() = {
    import spark.implicits._
    // tiny but non-trivial co-occurrence frame: two topical clusters
    // (fruit, metal) sharing the glue token "the"
    Seq(
      ("apple", "pear", 8.0), ("pear", "apple", 8.0),
      ("apple", "plum", 6.0), ("plum", "apple", 6.0),
      ("pear", "plum", 5.0), ("plum", "pear", 5.0),
      ("iron", "zinc", 7.0), ("zinc", "iron", 7.0),
      ("iron", "lead", 6.5), ("lead", "iron", 6.5),
      ("zinc", "lead", 4.0), ("lead", "zinc", 4.0),
      ("the", "apple", 9.0), ("apple", "the", 9.0),
      ("the", "iron", 9.0), ("iron", "the", 9.0)
    ).toDF("center", "context", "x")
  }

  private def assertLossNonIncreasing(d: Int): Unit = {
    val base = Glove.weighted(cooc()).persist()
    try {
      var ctx = Glove.initFactors(
        base.select(col("context").as("token")).distinct(), d)
      var cen = Glove.initFactors(
        base.select(col("center").as("token")).distinct(), d)
      var prev = Glove.loss(base, cen, ctx, d)
      for (step <- 1 to 6) {
        if (step % 2 == 1)
          cen = Glove.half(base, "center", "context", ctx, Glove.Lambda, d)
        else
          ctx = Glove.half(base, "context", "center", cen, Glove.Lambda, d)
        val cur = Glove.loss(base, cen, ctx, d)
        // each half-step is the exact ridge minimizer for its side;
        // the round-6 handoff can wiggle the objective by at most
        // O(1e-6 · gradients) — allow that epsilon, nothing more
        assert(cur <= prev + 1e-4,
          s"half-step $step increased loss: $prev -> $cur")
        prev = cur
      }
      assert(prev.isFinite && prev >= 0)
    } finally { base.unpersist(); () }
  }

  test("penalized loss is non-increasing across ALS half-steps") {
    assertLossNonIncreasing(d = 2)
  }

  test("d=8 penalized loss is non-increasing across ALS half-steps " +
      "(CholeskySolve path)") {
    assertLossNonIncreasing(d = 8)
  }

  test("fit is deterministic and emits both factor roles") {
    val f1 = Glove.fit(cooc(), d = 2).orderBy("role", "token").collect()
    val f2 = Glove.fit(cooc(), d = 2).orderBy("role", "token").collect()
    assert(f1.toSeq == f2.toSeq, "trajectory must replay exactly")
    val roles = f1.map(_.getString(1)).distinct.sorted
    assert(roles.toSeq == Seq("center", "context"))
    assert(f1.forall { r =>
      val (a, b) = (r.getDouble(2), r.getDouble(3))
      a.isFinite && b.isFinite && math.abs(a) < 100 && math.abs(b) < 100
    }, "factors must be finite and sane")
  }

  test("learned vectors separate topical clusters through knnGraph") {
    val cen = Glove.fit(cooc(), d = 2, alternations = 4)
      .where(col("role") === "center")
      .select(col("token"), array(col("f1"), col("f2")).as("vec"))
    val knn = Ann.knnGraph(cen, "token", "vec", k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    // loop closure: the ANN operator consumes the fitted factors
    // directly — degree bound holds, ranks are 1..k, no self edges
    val deg = knn.groupBy(_._1).view.mapValues(_.length)
    assert(deg.values.forall(_ <= 2), "degree must be bounded by k")
    assert(knn.forall { case (s, r, d) => r >= 1 && r <= 2 && s != d })
    // the glue token aside, nearest neighbors should stay in-cluster
    val nn1 = knn.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val fruit = Set("apple", "pear", "plum")
    val metal = Set("iron", "zinc", "lead")
    val inCluster = (fruit ++ metal).count { t =>
      val n = nn1(t)
      (fruit(t) && (fruit(n) || n == "the")) ||
        (metal(t) && (metal(n) || n == "the"))
    }
    assert(inCluster >= 4,
      s"expected topical neighbors, got ${nn1.toSeq.sorted}")
  }
}
