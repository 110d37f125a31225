package graft.llmdata

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** First-class kNN graph: the exact variant vs a driver brute force
  * (same round-6 quantized cosine, same tie-break), and the LSH scale
  * path's recall/degree contract on clustered data where the buckets
  * carry real signal.
  */
class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val rnd = new Random(3)
  // two well-separated clusters: LSH buckets must keep them apart
  private val vecs: Seq[(Long, Seq[Double])] = (0L until 60L).map { i =>
    val c = if (i % 2 == 0) 4.0 else -4.0
    (i, Seq.tabulate(dim)(d =>
      (if (d == 0) c else 0.0) + rnd.nextGaussian() * 0.5))
  }
  private def df = vecs.toDF("id", "vec")

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  private def bruteTop5: Map[Long, Seq[Long]] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      BigDecimal(cosine(a, b)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    vecs.map { case (i, v) =>
      i -> vecs.filter(_._1 != i)
        .map { case (j, u) => (j, cos(v, u)) }
        .sortBy { case (j, s) => (-s, j) }.take(5).map(_._1)
    }.toMap
  }

  test("exact knnGraph matches the driver brute force, ranks included") {
    val got = Ann.knnGraph(df, "id", "vec", k = 5)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (s, rows) =>
        s -> rows.sortBy(_._2).map(_._3).toSeq
      }
    assert(got == bruteTop5)
    // the raw-cosine search over the same pairs: same neighbours and
    // ranks, cosines within 1e-12 of the driver's unrounded values
    val cosTop = Ann.cosineTopK(df, df, "id", "vec", k = 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rows) => q -> rows.sortBy(_._2).toSeq }
    assert(cosTop.map { case (q, rows) => q -> rows.map(_._3) } == bruteTop5)
    cosTop.foreach { case (q, rows) =>
      rows.foreach { case (_, _, n, c) =>
        assert(math.abs(c - cosine(vecs(q.toInt)._2, vecs(n.toInt)._2)) <= 1e-12,
          s"query $q neighbour $n: cos $c")
      }
    }
  }

  test("LSH knn graph: high recall on clustered data, degree bounded") {
    val lsh = Ann.knnGraphLsh(df, "id", "vec", k = 5, nPlanes = 4,
        dim = dim, multiProbe = 1)
      .select("src", "dst").as[(Long, Long)].collect()
    val brute = bruteTop5.flatMap { case (s, ds) => ds.map(s -> _) }.toSet
    val recall = lsh.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.9, s"clustered-data recall $recall")
    val deg = lsh.groupBy(_._1).map(_._2.length)
    assert(deg.max <= 5 && lsh.distinct.length == lsh.length)
    assert(lsh.forall { case (s, d) => s != d })
  }

  test("multi-probe strictly improves candidate coverage") {
    val r0 = Ann.knnGraphLsh(df, "id", "vec", k = 5, nPlanes = 4,
        dim = dim, multiProbe = 0)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val r1 = Ann.knnGraphLsh(df, "id", "vec", k = 5, nPlanes = 4,
        dim = dim, multiProbe = 1)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val brute = bruteTop5.flatMap { case (s, ds) => ds.map(s -> _) }.toSet
    val rec0 = r0.count(brute.contains).toDouble / brute.size
    val rec1 = r1.count(brute.contains).toDouble / brute.size
    assert(rec1 >= rec0)
    // only 0 (own bucket) and 1 (Hamming-1) exist; anything else is
    // rejected by name, not silently run as Hamming-1
    for (bad <- Seq(-1, 2)) {
      val e = intercept[IllegalArgumentException](Ann.knnGraphLsh(df, "id",
        "vec", k = 5, nPlanes = 4, dim = dim, multiProbe = bad))
      assert(e.getMessage.contains(s"got $bad"), e.getMessage)
    }
  }
}
