package graft.graph

import scala.util.Random

import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], rounds: Int = 20): Map[Long, Long] =
    KCore.corenessOn(
        EdgeFrames.symmetrizedWeighted(edges.toDF("id_a", "id_b")), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Textbook sequential peel — the ground truth the h-index iteration
    * must converge to.
    */
  private def peel(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      adj(a) = adj.getOrElse(a, Set()) + b
      adj(b) = adj.getOrElse(b, Set()) + a
    }
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 1L
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val drop = adj.filter(_._2.size < k).keys.toSeq
        changed = drop.nonEmpty
        drop.foreach { n =>
          core(n) = k - 1
          adj.remove(n)
          adj.keys.foreach(m => adj(m) = adj(m) - n)
        }
      }
      k += 1
      if (k > edges.size + 2) throw new IllegalStateException("peel runaway")
    }
    core.toMap
  }

  test("clique: coreness n-1 everywhere") {
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    assert(run(k5) == (0L until 5L).map(_ -> 4L).toMap)
  }

  test("path: coreness 1 everywhere (including long-path convergence)") {
    val path = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(run(path, rounds = 40).values.toSet == Set(1L))
  }

  test("clique with a pendant: pendant 1, clique keeps 4") {
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val got = run(k5 :+ (0L, 99L))
    assert(got(99L) == 1L)
    (0L until 5L).foreach(n => assert(got(n) == 4L))
  }

  test("random graph matches the sequential peel") {
    val rnd = new Random(5)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct
    assert(run(edges, rounds = 50) == peel(edges))
  }

  test("multiplicity is ignored: duplicated edges don't raise coreness") {
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    assert(run(tri ++ tri ++ tri) == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("fixed low round count is the h-index iterate, not yet coreness") {
    // long path: h stays 2 in the middle until the peel reaches it
    val path = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq
    val early = run(path, rounds = 2)
    assert(early(10L) == 2L) // interior not yet converged
    assert(early(0L) == 1L)  // endpoint settled immediately
  }
}
