package graft.graph

import scala.util.Random

import graft.SparkSpec

/** Synchronous LPA vs a driver brute-force replay of the identical
  * rounds, on the shapes that stress the update rule: cliques
  * (immediate consensus at the min label), two cliques joined by a
  * bridge (communities stay separate), weighted ties (multiplicity
  * must dominate), and random multigraphs.
  */
class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  /** Driver replay of the synchronous rounds: argmax total weight,
    * min-label tie-break — independent formulation (sorted scan) of
    * the engine's min-struct aggregate.
    */
  private def brute(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val w = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val adj = w.keys.toSeq.groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2) }
    var labels: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = adj.map { case (n, nbrs) =>
        val scores = nbrs.groupBy(m => labels(m))
          .map { case (l, ms) => l -> ms.map(m => w((n, m))).sum }
        n -> scores.toSeq.minBy { case (l, sw) => (-sw, l) }._1
      }
    }
    labels
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    LabelPropagation.labelPropagationOn(
        EdgeFrames.symmetrizedWeighted(edges.toDF("id_a", "id_b")), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def check(edges: Seq[(Long, Long)], iters: Int = 5): Unit =
    assert(run(edges, iters) == brute(edges, iters))

  test("clique converges to the min label in one round") {
    val k = 0L until 6L
    val edges = for (a <- k; b <- k if a < b) yield (a, b)
    val got = run(edges, 1)
    assert(got == k.map(n => n -> (if (n == 0L) 1L else 0L)).toMap)
    // round 2: node 0 rejoins label 0's adopters... replay exactly
    check(edges, 2)
    assert(run(edges, 2).values.toSet == Set(0L))
  }

  test("two cliques with one bridge stay separate communities") {
    val a = 0L until 5L
    val b = 10L until 15L
    val edges = (for (x <- a; y <- a if x < y) yield (x, y)) ++
      (for (x <- b; y <- b if x < y) yield (x, y)) ++ Seq((4L, 10L))
    val got = run(edges, 5)
    assert(got.filter(_._1 < 5).values.toSet.size == 1)
    assert(got.filter(_._1 >= 10).values.toSet.size == 1)
    assert(got(0L) != got(14L))
    check(edges)
  }

  test("edge multiplicity is weight: heavier side wins a label tie") {
    // node 5 sees label 1 once but label 2 twice (duplicated edge)
    val edges = Seq((5L, 1L), (5L, 2L), (5L, 2L))
    val got = run(edges, 1)
    assert(got(5L) == 2L)
    check(edges, 1)
  }

  test("unweighted tie breaks toward the smallest label") {
    val edges = Seq((5L, 1L), (5L, 2L))
    assert(run(edges, 1)(5L) == 1L)
    check(edges, 1)
  }

  test("self-loops dropped; isolated-by-self-loop nodes excluded") {
    val edges = Seq((1L, 1L), (2L, 3L))
    val got = run(edges, 3)
    assert(!got.contains(1L) && got.keySet == Set(2L, 3L))
    check(edges, 3)
  }

  test("random multigraphs match the driver replay at several depths") {
    val rnd = new Random(11)
    for (iters <- Seq(1, 3, 5)) {
      val n = 30
      val edges = Seq.fill(200)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      check(edges, iters)
    }
  }

  private def bruteQ(edges: Seq[(Long, Long)], labels: Map[Long, Long]): Double = {
    val w = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val m2 = w.values.sum.toDouble
    val deg = w.groupBy(_._1._1).map { case (n, es) => n -> es.values.sum }
    labels.values.toSet.toSeq.map { c: Long =>
      val members = labels.filter(_._2 == c).keySet
      val in = w.filter { case ((s, t), _) =>
        members(s) && members(t) }.values.sum
      in / m2 - math.pow(deg.filter(d => members(d._1)).values.sum / m2, 2)
    }.sum[Double]
  }

  private def runQ(edges: Seq[(Long, Long)], iters: Int = 5): Double = {
    val sym = EdgeFrames.symmetrizedWeighted(edges.toDF("id_a", "id_b"))
    val labels = LabelPropagation.labelPropagationOn(sym, iters)
    LabelPropagation.modularityOn(sym, labels)
      .collect().map(_.getDouble(4)).sum
  }

  test("modularity: two disconnected cliques score near the 0.5 ideal") {
    val a = 0L until 6L
    val b = 10L until 16L
    val edges = (for (x <- a; y <- a if x < y) yield (x, y)) ++
      (for (x <- b; y <- b if x < y) yield (x, y))
    assert(math.abs(runQ(edges) - 0.5) < 1e-6)
  }

  test("modularity: everything in one community scores exactly 0") {
    val k = 0L until 7L
    val edges = for (x <- k; y <- k if x < y) yield (x, y)
    // a clique LPA-converges to one label in 2 rounds → Q = 0
    assert(math.abs(runQ(edges, 5)) < 1e-9)
  }

  test("modularity matches the driver replay on random multigraphs") {
    val rnd = new Random(23)
    val edges = Seq.fill(150)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val sym = EdgeFrames.symmetrizedWeighted(edges.toDF("id_a", "id_b"))
    val labels = LabelPropagation.labelPropagationOn(sym, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = runQ(edges, 5)
    assert(math.abs(got - bruteQ(edges, labels)) < 1e-5)
  }

  private def refine(edges: Seq[(Long, Long)],
      labels: Map[Long, Long]): Map[Long, Long] = {
    val sym = EdgeFrames.symmetrizedWeighted(edges.toDF("id_a", "id_b"))
    val lf = labels.toSeq.toDF("id", "community")
    LabelPropagation.louvainRefine(sym, lf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def cliquePair: Seq[(Long, Long)] = {
    val a = 0L until 5L
    val b = 10L until 15L
    (for (x <- a; y <- a if x < y) yield (x, y)) ++
      (for (x <- b; y <- b if x < y) yield (x, y)) ++ Seq((4L, 10L))
  }

  test("louvain: a mislabeled clique member moves home") {
    // node 3 wrongly assigned to the right clique's community
    val bad = (0L until 5L).map(n => n -> (if (n == 3L) 10L else 0L))
      .toMap ++ (10L until 15L).map(n => n -> 10L).toMap
    val got = refine(cliquePair, bad)
    assert(got(3L) == 0L, got)
  }

  test("louvain: the ground-truth two-clique assignment is a fixpoint") {
    val truth = (0L until 5L).map(_ -> 0L).toMap ++
      (10L until 15L).map(_ -> 10L).toMap
    assert(refine(cliquePair, truth) == truth)
  }

  test("louvain: all-singletons collapses toward merges, never worsens Q") {
    val singles = (0L until 5L).map(n => n -> n).toMap ++
      (10L until 15L).map(n => n -> n).toMap
    val got = refine(cliquePair, singles)
    // each node joins a neighbor's community: strictly fewer communities
    assert(got.values.toSet.size < singles.values.toSet.size, got)
  }

  test("louvain: equal-gain candidates break ties to the smallest community id") {
    // node 0 bridges two identical triangles — both moves tie, and
    // staying (isolated community 99) is strictly worse
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (0L, 11L), (0L, 12L), (11L, 12L))
    val labels = Map(0L -> 99L, 1L -> 1L, 2L -> 1L, 11L -> 11L, 12L -> 11L)
    val got = refine(edges, labels)
    assert(got(0L) == 1L, got)
  }

  test("louvain: matches a driver brute-force of the integer gain score") {
    val rnd = new Random(41)
    val edges = Seq.fill(120)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter(e => e._1 != e._2)
    val w = edges.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nodes = w.keys.map(_._1).toSet
    val labels = nodes.map(n => n -> (n % 4)).toMap
    val k = nodes.map(n => n -> w.collect {
      case ((s, _), ww) if s == n => ww }.sum).toMap
    val m2 = w.values.sum.toDouble
    // toSeq before mapping to degrees: a Set would collapse equal
    // degrees within one community and undercount the total
    val tot = labels.groupBy(_._2).map { case (c, ns) =>
      c -> ns.keys.toSeq.map(k).sum }
    def kic(n: Long, c: Long) = w.collect {
      case ((s, t), ww) if s == n && labels(t) == c => ww }.sum
    val expect = nodes.map { n =>
      val cands = w.keys.collect { case (s, t) if s == n => labels(t) }
        .toSet + labels(n)
      n -> cands.map { c =>
        val adj = if (c == labels(n)) tot(c) - k(n) else tot(c)
        (-(m2 * kic(n, c) - k(n).toDouble * adj), c)
      }.min._2
    }.toMap
    assert(refine(edges, labels) == expect)
  }
}
