package graft.graph

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Degree-ordered triangle counting vs a driver brute-force oracle on
  * the shapes that stress the orientation: hub stars (zero triangles
  * despite huge degree), cliques (every wedge closes), and random
  * graphs (arbitrary mixtures).
  */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def brute(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = und.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val tri = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      (a, b) <- und
      c <- (adj(a) intersect adj(b)) if c > b
    } { tri(a) += 1; tri(b) += 1; tri(c) += 1 }
    adj.map { case (n, nbrs) => n -> (nbrs.size.toLong, tri(n)) }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
    Triangles.nodeTrianglesOn(
        EdgeFrames.symmetrizedWeighted(edges.toDF("id_a", "id_b")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val expected = brute(edges)
    val got = run(edges)
    assert(got.keySet == expected.keySet)
    for ((id, (deg, tri)) <- expected) {
      val (gd, gt, gc) = got(id)
      assert(gd == deg, s"degree($id): $gd != $deg")
      assert(gt == tri, s"triangles($id): $gt != $tri")
      val c = if (deg >= 2)
        BigDecimal(2.0 * tri / (deg * (deg - 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(math.abs(gc - c) < 1e-9, s"coeff($id): $gc != $c")
    }
  }

  test("star graph: hub has huge degree, zero triangles, coeff 0") {
    check((1L to 50L).map(i => (0L, i)))
  }

  test("clique: every wedge closes, coeff exactly 1.0") {
    val k = (0L until 8L)
    val edges = for (a <- k; b <- k if a < b) yield (a, b)
    val got = run(edges)
    assert(got.values.forall { case (d, t, c) => d == 7 && t == 21 && c == 1.0 })
  }

  test("two triangles sharing a vertex") {
    check(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
  }

  test("random graphs match brute force (dupes and self-loops tolerated)") {
    val rnd = new Random(7)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2 || rnd.nextBoolean()) // keep some self-loops
      check(edges)
    }
  }

  test("degree-1 nodes report coeff 0.0 and appear in the output") {
    val got = run(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)))
    assert(got(9L) == ((1L, 0L, 0.0)))
  }
}
