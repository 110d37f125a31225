package graft.graph

import scala.util.Random

import graft.SparkSpec

/** Large-star/small-star CC vs a driver union-find oracle, on the
  * graph shapes that distinguish it from label propagation: long
  * chains (diameter >> rounds), stars, and random forests; plus the
  * size-selected public entry and its integral-id contract.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> find(id)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents
      .largeStar(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("a 60-node chain resolves to one component (diameter >> rounds)") {
    val edges = (0L until 59L).map(i => (i + 1, i))
    val got = run(Random.shuffle(edges))
    assert(got.size == 60)
    assert(got.values.toSet == Set(0L), s"all labels must be 0: $got")
  }

  test("matches union-find on a random multi-component graph") {
    val rnd = new Random(7)
    // 40 nodes with sparse random edges + offsets so ids don't start at 0
    val edges = Seq.fill(45)((rnd.nextInt(40) + 100L, rnd.nextInt(40) + 100L))
      .filter { case (a, b) => a != b }
    val got = run(edges)
    val want = unionFind(edges)
    assert(got == want, s"diff: ${got.toSet.diff(want.toSet)}")
  }

  test("duplicate, reversed, and self-loop edges are tolerated") {
    val edges =
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L), (5L, 4L))
    val got = run(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
  }

  test("union-find and large-star paths agree on a random graph") {
    val rnd = new Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    val viaStars = run(edges)
    // 60 pairs: the public entry resolves them with driver union-find
    val viaUnionFind = ConnectedComponents.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaStars == viaUnionFind)
  }

  test("string ids are rejected, naming the column") {
    // "7" and "007" would cast to one long node; the entry refuses them
    val pairs = Seq(("7", "007"), ("8", "9")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.connectedComponents(pairs)
    }
    assert(e.getMessage.contains("id_a") && e.getMessage.contains("integral"),
      e.getMessage)
  }
}
