package graft.graph

import graft.SparkSpec

/** Adamic–Adar against hand-computed scores on a known graph, plus the
  * non-edge and degree-cap contracts. */
class LinkPredictionSpec extends SparkSpec {

  import spark.implicits._

  // path graph 1-2-3-4 plus edge 2-4: deg(2)=3, deg(3)=2, deg(4)=2
  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L))
    .toDF("id_a", "id_b")

  test("scores match the hand computation and exclude existing edges") {
    val got = LinkPrediction.adamicAdar(edges, k = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // non-edges: (1,3) via z=2 (deg 3); (1,4) via z=2 (deg 3)
    assert(got.keySet === Set((1L, 3L), (1L, 4L)))
    assert(got((1L, 3L)) === ((1L, r6(1.0 / math.log(3.0)))))
    assert(got((1L, 4L)) === ((1L, r6(1.0 / math.log(3.0)))))
    // (2,4), (3,4) etc. are edges — never scored; (2,3)'s common
    // neighbor 4 exists but (2,3) is an edge too
  }

  test("degree cap drops hub pivots deterministically") {
    // star: hub 0 connected to 1..6 — every leaf pair shares only the
    // hub (deg 6); cap 5 removes the pivot, so nothing is scored
    val star = (1L to 6L).map(i => (0L, i)).toDF("id_a", "id_b")
    assert(LinkPrediction.adamicAdar(star, k = 10,
      maxDegree = Some(5)).count() === 0L)
    val scored = LinkPrediction.adamicAdar(star, k = 20)
    assert(scored.count() === 15L) // C(6,2) leaf pairs
    val aa = scored.collect().map(_.getDouble(3)).distinct
    assert(aa.length === 1 && aa.head ===
      BigDecimal(1.0 / math.log(6.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("duplicate and reversed input edges collapse before scoring") {
    val dup = edges.union(Seq((2L, 1L), (3L, 2L)).toDF("id_a", "id_b"))
    val a = LinkPrediction.adamicAdar(edges, k = 10).collect().toSeq
    val b = LinkPrediction.adamicAdar(dup, k = 10).collect().toSeq
    assert(a.map(_.toSeq).sortBy(_.mkString) ===
      b.map(_.toSeq).sortBy(_.mkString))
  }

  test("linkScores: all five scores match the hand computation") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = LinkPrediction.linkScores(edges, k = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6)))).toMap
    // graph 1-2, 2-3, 3-4, 2-4: deg(1)=1, deg(2)=3, deg(3)=2, deg(4)=2
    // non-edge (1,3): CN={2}; J = 1/(1+2-1); AA = 1/ln3; RA = 1/3;
    // PA = 1·2. non-edge (1,4): same shape.
    assert(got.keySet === Set((1L, 3L), (1L, 4L)))
    assert(got((1L, 3L)) === ((1L, r6(1.0 / 2.0),
      r6(1.0 / math.log(3.0)), r6(1.0 / 3.0), 2L)))
    assert(got((1L, 4L)) === ((1L, r6(1.0 / 2.0),
      r6(1.0 / math.log(3.0)), r6(1.0 / 3.0), 2L)))
    // adamicAdar is the (id_a, id_b, common_neighbors, aa) projection
    // of the same wedge pass, capped or not
    for (cap <- Seq(None, Some(2), Some(3)))
      assert(LinkPrediction.adamicAdar(edges, k = 10, maxDegree = cap)
          .collect().toSeq ===
        LinkPrediction.linkScores(edges, k = 10, maxDegree = cap)
          .select("id_a", "id_b", "common_neighbors", "aa").collect().toSeq)
  }

  test("linkScores: jaccard and PA use FULL degrees, pivots the cap") {
    // star 0-(1..6) plus chain 1-7. cap 5 removes the hub pivot (deg 6)
    // but NOT the endpoint degrees: pair (0,7) via pivot 1 (deg 2):
    // deg(0)=6, deg(7)=1 → J = 1/(6+1−1) = 1/6, PA = 6·1
    val g = ((1L to 6L).map(i => (0L, i)) :+ (1L, 7L))
      .toDF("id_a", "id_b")
    val got = LinkPrediction.linkScores(g, k = 30, maxDegree = Some(5))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getLong(6)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.contains((0L, 7L)), s"got ${got.keySet}")
    assert(got((0L, 7L)) === ((1L, r6(1.0 / 6.0), 6L)))
    // hub-pivot wedges (leaf pairs through 0) are gone under the cap
    assert(!got.contains((2L, 3L)))
  }
}
