package graft.llmdata

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.graph.ConnectedComponents

class LlmDataSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sfDir).cache()
  lazy val emb = Tables.embeddings(spark, sfDir).cache()

  test("TextStats: token count and ratios are consistent") {
    val out = TextStats.withTextStats(docs, "text")
      .select("n_tokens", "stopword_ratio", "unique_ratio", "quality").collect()
    assert(out.forall(_.getInt(0) >= 10))
    assert(out.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
    assert(out.forall(r => r.getDouble(2) > 0 && r.getDouble(2) <= 1))
    assert(out.forall(r => r.getDouble(3) >= 0 && r.getDouble(3) <= 1))
  }

  test("fingerprint is normalization-invariant") {
    import spark.implicits._
    val d = Seq((1L, "Hello,  World!"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val fps = d.select(TextStats.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val d = Seq((1L, "x y z"), (2L, "x y z"), (3L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.exact(d, Seq("text"), "doc_id")
      .select("doc_id", "n_copies").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds the planted near-dup pairs with high jaccard") {
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.8)
      .collect()
    assert(pairs.length >= 10, s"expected >=10 near-dup pairs, got ${pairs.length}")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.8))
  }

  test("identical docs have identical minhash signatures") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(d, "text", "doc_id", k = 4).collect()
    val s1 = sigs.find(_.getLong(0) == 1L).get
    val s2 = sigs.find(_.getLong(0) == 2L).get
    (1 to 4).foreach(i => assert(s1.getString(i) == s2.getString(i)))
  }

  test("simhash: near-dups at small hamming distance, recall vs minhash") {
    val mh = Dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = mh.intersect(sh).size.toDouble / math.max(mh.size, 1)
    assert(recall >= 0.5, s"simhash recall vs minhash too low: $recall (mh=${mh.size}, sh=${sh.size})")
  }

  test("prefix-filter Jaccard join matches brute force exactly") {
    val sh = Dedup.shingles(docs, "text", "doc_id", 3)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = sh.select(col("doc_id").as("id_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .filter(col("c") / (col("sz_a") + col("sz_b") - col("c")) >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pf = Dedup.jaccardNearDupPairs(docs, "text", "doc_id", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf == brute, s"prefix-filter=${pf.size} brute=${brute.size} " +
      s"missing=${(brute -- pf).take(5)} extra=${(pf -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
  }

  test("Jaccard join edges: identical docs pair at 1.0, sub-n-token docs drop out") {
    import spark.implicits._
    val d = Seq(
      (1L, "w x y z q r s t"), (2L, "w x y z q r s t"), (3L, "w x y z q r s t"),
      (4L, "completely different words here now then"),
      (5L, "too short")) // < 3 tokens: no shingles, must not error or pair
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardNearDupPairs(d, "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
  }

  test("Jaccard join keeps a pair at exactly the threshold (length-filter epsilon)") {
    import spark.implicits._
    // 3-gram sets of sizes 4 and 5 sharing 4 shingles → J = 4/5 = 0.8
    // exactly; without the epsilon, 5*0.8 = 4.0000000000000002 in binary
    // and the length filter would wrongly drop the pair.
    val d = Seq((1L, "a b c d e f"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val out = Dedup.jaccardNearDupPairs(d, "text", "doc_id", threshold = 0.8).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard") == 0.8)
  }

  test("dropNearDuplicates removes the higher id of each pair") {
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.8)
    val kept = Dedup.dropNearDuplicates(docs, pairs, "doc_id")
    val dropped = docs.count() - kept.count()
    val dupIds = pairs.select("id_b").distinct().count()
    assert(dropped == dupIds)
  }

  test("brute-force ANN: self-consistent, cos in [-1,1], k rows per query") {
    val out = Ann.cosineTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", k = 3).collect()
    assert(out.length == 15)
    assert(out.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-12))
  }

  test("planBands: S-curve threshold selection and candidate-probability shape") {
    // k=64, t=0.8: r=8,b=8 gives (1/8)^(1/8)=0.771 — the closest divisor pair
    assert(Dedup.planBands(0.8, 64) == ((8, 8)))
    // exhaustive check against brute force for several (t, k)
    for (t <- Seq(0.5, 0.7, 0.9); k <- Seq(16, 64, 128)) {
      val (b, r) = Dedup.planBands(t, k)
      assert(b * r == k)
      val err = math.abs(math.pow(1.0 / b, 1.0 / r) - t)
      val bestErr = (1 to k).filter(k % _ == 0)
        .map(rr => math.abs(math.pow(1.0 / (k / rr), 1.0 / rr) - t)).min
      assert(err <= bestErr + 1e-12, s"t=$t k=$k chose (b=$b,r=$r)")
    }
    // the S-curve is monotone in s and steep around the threshold
    val (b, r) = Dedup.planBands(0.8, 64)
    val ps = (1 to 19).map(i => Dedup.candidateProbability(b, r, i / 20.0))
    assert(ps.zip(ps.tail).forall { case (a, c) => a <= c })
    assert(Dedup.candidateProbability(b, r, 0.95) > 0.99)
    assert(Dedup.candidateProbability(b, r, 0.4) < 0.01)
  }

  test("truncateNormalizeExpr: 16-dim prefix is unit-norm; cos vs full prefix is 1") {
    val out = emb.select(col("vec_id"),
      Ann.normExpr(Ann.truncateNormalizeExpr(col("embedding"), 16)).as("n"),
      graft.functions.VecDot(
        Ann.truncateNormalizeExpr(col("embedding"), 16),
        Ann.truncateNormalizeExpr(col("embedding"), 16)).as("selfdot"))
      .collect()
    out.foreach { r =>
      assert(r.getDouble(1) ~== (1.0, 1e-9))
      assert(r.getDouble(2) ~== (1.0, 1e-9))
    }
  }

  test("SQ8 ANN: codes in [0,255], reconstruction within half a grid step, high recall@1") {
    val (mins, scales) = Ann.sqTrain(emb, "embedding", dim = 64)
    assert(mins.length == 64 && scales.forall(_ > 0))
    val rows = emb.select(col("embedding"),
      graft.functions.SqRoundTrip(col("embedding"), mins, scales).as("xhat"))
      .collect()
    rows.foreach { r =>
      val x = r.getSeq[Float](0); val xh = r.getSeq[Double](1)
      x.indices.foreach { d =>
        // x̂ lies on the grid: its code (x̂ − min)/sc is an integer in
        // [0, 255]
        val code = (xh(d) - mins(d)) / scales(d)
        assert(math.abs(code - math.rint(code)) <= 1e-9
          && math.rint(code) >= 0 && math.rint(code) <= 255,
          s"dim $d: code $code")
        // in-range dims reconstruct within sc/2 (clamping only binds at
        // the corpus extremes, which are exactly representable)
        assert(math.abs(x(d) - xh(d)) <= scales(d) / 2 + 1e-9,
          s"dim $d: ${x(d)} vs ${xh(d)} (sc=${scales(d)})")
      }
    }
    val q = emb.filter(col("vec_id") < 20)
    val brute = Ann.cosineTopK(emb, q, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sq = Ann.sqTopK(emb, q, "vec_id", "embedding", k = 1, mins, scales)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = brute.count { case (qid, nn) => sq.get(qid).contains(nn) }
    // 8-bit per-dim error is tiny relative to cosine gaps: near-perfect
    assert(hits >= (brute.size * 0.8).toInt,
      s"SQ8 recall@1 ${hits.toDouble / brute.size}")
  }

  test("LSH ANN: results are a subset of brute-force candidates with decent recall@1") {
    val q = emb.filter(col("vec_id") < 20)
    val brute = Ann.cosineTopK(emb, q, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Ann.lshCosineTopK(emb, q, "vec_id", "embedding", k = 1,
      nPlanes = 4, dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recall@1 of 4-bit LSH on random data is modest; require > 0.2 and
    // that every LSH answer at least exists
    val hits = brute.keys.count(k => lsh.get(k).contains(brute(k)))
    assert(lsh.nonEmpty)
    assert(hits.toDouble / brute.size >= 0.2,
      s"LSH recall@1 ${hits.toDouble / brute.size}")
    // Hamming-1 multi-probe strictly widens the candidate set -> recall
    // at least as high as single-probe
    val mp = Ann.lshCosineTopK(emb, q, "vec_id", "embedding", k = 1,
      nPlanes = 4, dim = 64, multiProbe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mpHits = brute.keys.count(k => mp.get(k).contains(brute(k)))
    assert(mpHits >= hits, s"multi-probe recall $mpHits < single $hits")
    assert(mpHits.toDouble / brute.size >= 0.5,
      s"multi-probe recall@1 ${mpHits.toDouble / brute.size}")
  }

  test("languageId picks marker-dominant language, und when none") {
    import spark.implicits._
    val d = Seq((1L, "le chat et le chien"), (2L, "qqq www eee"),
      (3L, "the cat of the hat")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextStats.languageId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "fr")
    assert(out(2L) == "und")
    assert(out(3L) == "en")
  }

  test("LSH bucket cap bounds degenerate all-identical corpora") {
    import spark.implicits._
    // 300 identical docs: every band bucket has 300 members -> without a
    // cap the self-join yields ~45k pairs per band; with the cap the
    // bucket is dropped entirely (exact dedup's job instead).
    val same = (1 to 300).map(i => (i.toLong, "the same boilerplate text repeated here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(same, "text", "doc_id", k = 8)
    val bands = Dedup.bandHashes(sigs, "doc_id", 8, 2)
    val capped = Dedup.candidatePairs(bands, "doc_id", maxBucketSize = 100)
    assert(capped.count() == 0)
    val uncapped = Dedup.candidatePairs(bands, "doc_id", maxBucketSize = Int.MaxValue)
    assert(uncapped.count() == 300L * 299 / 2)
    // simhash path: capped join also yields nothing on the degenerate set
    assert(Dedup.simhashNearDupPairs(same, "text", "doc_id",
      maxBucketSize = 100).count() == 0)
  }

  test("TokenStats matches the HOF split/aggregate semantics on edge cases") {
    import spark.implicits._
    // consecutive/leading/trailing spaces (empty tokens kept, like
    // split(text,\" \") with limit -1), unicode, stopword multi-hits
    val texts = Seq("a  b", " lead", "trail ", "", "the the the of",
      "héllo wörld héllo", "x")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val t = col("text")
    val hofTokens = split(t, " ")
    val out = df.select(
      TextStats.tokenCount(t).as("n"),
      size(hofTokens).as("n_hof"),
      TextStats.bpeTokenCount(t).as("bpe"),
      aggregate(hofTokens, lit(0),
        (acc, x) => acc + ceil(length(x) / lit(4.0)).cast("int")).as("bpe_hof"),
      element_at(graft.functions.TokenStats(t, TextStats.defaultStopwords), 3).as("dist"),
      size(array_distinct(hofTokens)).as("dist_hof"),
      element_at(graft.functions.TokenStats(t, TextStats.defaultStopwords), 4).as("stop"),
      size(filter(hofTokens,
        x => x.isin(TextStats.defaultStopwords.map(lit): _*))).as("stop_hof"),
      element_at(graft.functions.TokenStats(t, TextStats.defaultStopwords), 2).as("len"),
      aggregate(hofTokens, lit(0), (acc, x) => acc + length(x)).as("len_hof")
    ).collect()
    out.zip(texts).foreach { case (r, txt) =>
      assert(r.getInt(0) == r.getInt(1), s"n_tokens mismatch on '$txt'")
      assert(r.getInt(2) == r.getInt(3), s"bpe mismatch on '$txt'")
      assert(r.getLong(4) == r.getInt(5).toLong, s"distinct mismatch on '$txt'")
      assert(r.getLong(6) == r.getInt(7).toLong, s"stopword mismatch on '$txt'")
      assert(r.getLong(8) == r.getInt(9).toLong, s"total len mismatch on '$txt'")
    }
  }

  test("IVF ANN: subset of brute force with decent recall@1, bounded candidates") {
    val centroids = Ann.ivfIndex(emb, "embedding", nList = 8, dim = 64,
      sampleSize = 2000, iters = 5, seed = 42)
    assert(centroids.length == 8 && centroids.forall(_.length == 64))
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Ann.cosineTopK(emb, queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ivf = Ann.ivfCosineTopK(emb, queries, "vec_id", "embedding", k = 1,
      centroids, nProbe = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = brute.count { case (q, n) => ivf.get(q).contains(n) }
    val recall = hits.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@1 too low: $recall")
    // probing more cells can only improve recall
    val ivfAll = Ann.ivfCosineTopK(emb, queries, "vec_id", "embedding", k = 1,
      centroids, nProbe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hitsAll = brute.count { case (q, n) => ivfAll.get(q).contains(n) }
    assert(hitsAll == brute.size, "nProbe=nList must equal brute force")
  }

  test("IVF training sample is uniform: centroids independent of row order/partitioning, all clusters covered") {
    import spark.implicits._
    // Three well-separated blobs, corpus SORTED by blob: a limit()-based
    // sample (the r4 defect) would train the quantizer on blob-0 rows
    // only — blobs 1/2 would have no nearby centroid and the probe join
    // would concentrate on the few cells that swallow them.
    val rnd = new scala.util.Random(7)
    val rows = for (c <- 0 until 3; i <- 0 until 1000) yield {
      val v = Array.tabulate(8)(j =>
        (if (j == c) 30.0 else 0.0) + rnd.nextGaussian()).map(_.toFloat)
      (c * 1000L + i, v)
    }
    val sorted = rows.toDF("vec_id", "embedding")
    val a = Ann.ivfIndex(sorted, "embedding", nList = 12, dim = 8,
      sampleSize = 300, iters = 5, seed = 1)
    // same rows, different partitioning AND row order → identical
    // centroids (the sample is ranked by content hash, not scan order)
    val b = Ann.ivfIndex(sorted.repartition(13), "embedding", nList = 12,
      dim = 8, sampleSize = 300, iters = 5, seed = 1)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "centroids must not depend on partitioning/order")
    // every blob is represented: each blob center has a centroid within
    // a few stds (42 away if a blob were missed entirely)
    (0 until 3).foreach { c =>
      val center = Array.tabulate(8)(j => if (j == c) 30.0 else 0.0)
      val minD = a.map(ctr => math.sqrt(
        ctr.zip(center).map { case (x, y) => (x - y) * (x - y) }.sum)).min
      assert(minD <= 5.0, s"blob $c has no nearby centroid (min dist $minD)")
    }
    // no degenerate hot cell once every blob holds centroids
    val occ = sorted.withColumn("cell", Ann.cellExpr(col("embedding"), a))
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(occ.max.toDouble / rows.size <= 0.4,
      s"hot cell share ${occ.max.toDouble / rows.size}")
  }

  test("PQ: codes in range, deterministic training, ADC ranks approximate true distances") {
    val cbs = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16, dim = 64,
      sampleSize = 2000, iters = 5, seed = 42)
    assert(cbs.length == 8 && cbs.forall(_.length == 16) &&
      cbs.forall(_.forall(_.length == 8)))
    // training is partitioning/order-independent (same hash sample)
    val cbs2 = Ann.pqTrain(emb.repartition(13), "embedding", m = 8, ksub = 16,
      dim = 64, sampleSize = 2000, iters = 5, seed = 42)
    assert(cbs.map(_.map(_.toSeq).toSeq).toSeq ==
      cbs2.map(_.map(_.toSeq).toSeq).toSeq)
    // every code is a valid centroid index
    val codes = emb.select(Ann.pqCodeExpr(col("embedding"), cbs).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // ADC distance approximates the true L2: the PQ top-1 neighbor's
    // TRUE distance should be close to the true NN distance (quantized
    // search finds a near-optimal neighbor even when ids differ)
    val queries = emb.filter(col("vec_id") < 10)
    val pq = Ann.pqAdcTopK(emb, queries, "vec_id", "embedding", k = 1, cbs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    pq.foreach { case (q, n) =>
      val trueNn = vecs.filter(_._1 != q)
        .minBy { case (_, v) => l2(vecs(q), v) }
      val dTrue = l2(vecs(q), trueNn._2)
      val dPq = l2(vecs(q), vecs(n))
      assert(dPq <= dTrue * 1.5 + 1e-9,
        s"query $q: PQ neighbor $n at $dPq vs true NN at $dTrue")
    }
  }

  test("IVFPQ with nProbe=nList equals flat PQ; fewer probes stay a subset family") {
    val cents = Ann.ivfIndex(emb, "embedding", nList = 8, dim = 64,
      sampleSize = 2000, iters = 5, seed = 42)
    val cbs = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16, dim = 64,
      sampleSize = 2000, iters = 5, seed = 42)
    val queries = emb.filter(col("vec_id") < 10)
    def res(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = res(Ann.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 3,
      cents, cbs, nProbe = 8))
    val flat = res(Ann.pqAdcTopK(emb, queries, "vec_id", "embedding", k = 3, cbs))
    assert(full == flat, "probing every cell must reduce to flat PQ ADC")
    // pruned probing returns k results per query drawn from probed cells
    val pruned = Ann.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 3,
      cents, cbs, nProbe = 2).collect()
    assert(pruned.length == 30)
  }

  test("containmentPairs equals brute force on randomized small corpora") {
    import spark.implicits._
    // seeded random docs over a tiny vocab → dense shingle overlap;
    // compare the prefix-join result against first-principles pairs
    val rnd = new scala.util.Random(7)
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    (0 until 3).foreach { trial =>
      val docs = (0L until 30L).map { i =>
        val len = 3 + rnd.nextInt(12)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val t = 0.6
      def shset(s: String): Set[String] =
        s.split(" ", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      val want = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia != ib
        sa = shset(ta); sb = shset(tb)
        if sa.nonEmpty
        c = (sa & sb).size.toDouble / sa.size
        if c >= t
      } yield (ia, ib, c)).toSet
      val got = {
        val p = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
          "text", "doc_id", threshold = t)
        val out = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        p.unpersist(blocking = false)
        out
      }
      assert(got == want,
        s"trial $trial: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("jaccardNearDupPairs equals brute force on randomized small corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    (0 until 3).foreach { trial =>
      val base = (0L until 30L).map { i =>
        val len = 3 + rnd.nextInt(12)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // random 3-gram sets over this vocab almost never reach J = 0.5,
      // so plant near-dups: one appended token adds at most one shingle
      val docs = base ++ base.take(10).map { case (i, d) => (i + 100, d + " aa") }
      val t = 0.5
      def shset(s: String): Set[String] =
        s.split(" ", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      val want = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        sa = shset(ta); sb = shset(tb)
        if sa.nonEmpty || sb.nonEmpty
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= t
      } yield (ia, ib, j)).toSet
      def collected(p: org.apache.spark.sql.DataFrame) = {
        val out = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        p.unpersist(blocking = false)
        out
      }
      val got = collected(Dedup.jaccardNearDupPairs(docs.toDF("doc_id", "text"),
        "text", "doc_id", threshold = t))
      assert(got == want,
        s"trial $trial: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      // minhash's LSH candidates go through the same exact verifier: a
      // subset of the brute-force pairs with identical jaccard values
      // (one-row bands: a pair sharing any of the 64 minhashes is a
      // candidate, so most pairs, true or not, reach verification)
      val mh = collected(Dedup.minhashNearDupPairs(docs.toDF("doc_id", "text"),
        "text", "doc_id", threshold = t, rowsPerBand = 1))
      assert(want.nonEmpty && mh.nonEmpty && mh.subsetOf(want),
        s"trial $trial: minhash extra=${(mh -- want).take(3)} (${mh.size} pairs)")
    }
  }

  test("PQ re-rank: recall at least that of plain ADC ordering") {
    val cbs = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16, dim = 64,
      sampleSize = 2000, iters = 5, seed = 42)
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Ann.cosineTopK(emb, queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pq = Ann.pqAdcTopK(emb, queries, "vec_id", "embedding", k = 1, cbs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rr = Ann.pqAdcTopKReranked(emb, queries, "vec_id", "embedding", k = 1,
      cbs, rerank = 20).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pqHits = brute.count { case (q, n) => pq.get(q).contains(n) }
    val rrHits = brute.count { case (q, n) => rr.get(q).contains(n) }
    // if ADC already ranks the true NN first it is certainly in the
    // coarse-20 list, and exact re-scoring puts it back on top — so
    // re-ranking can only gain
    assert(rrHits >= pqHits, s"re-rank lost recall: $rrHits < $pqHits")
    assert(rrHits > 0, "re-ranked search found no true neighbors at all")
  }

  test("skew cap uses aggregate+anti-join, not a Window over the hot bucket") {
    import spark.implicits._
    // 10k identical docs: one degenerate bucket holding the entire
    // corpus. The cap must drop it WITHOUT first co-locating all 10k
    // rows on a single task (the old Window.partitionBy(band,bh) plan) —
    // assert the physical plan has no Window node and the partial-agg
    // shape (two HashAggregates) plus a broadcast anti-join instead.
    val same = (1 to 10000).map(i => (i.toLong, "the same boilerplate text repeated again"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(same, "text", "doc_id", k = 8)
    val bands = Dedup.bandHashes(sigs, "doc_id", 8, 2)
    val capped = Dedup.candidatePairs(bands, "doc_id", maxBucketSize = 100)
    val plan = capped.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "skew cap must not use a Window")
    assert(plan.contains("LeftAnti"), "skew cap should anti-join the oversized keys")
    assert(capped.count() == 0)
  }

  test("cheap-mix minhash family finds the planted pairs") {
    // the production family (k=64, one md5 per shingle) on the gate
    // corpus
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", threshold = 0.8)
      .collect()
    assert(pairs.length >= 10)
  }

  test("chunkDocuments: overlapping windows cover the stream, suffix chunks dropped") {
    import spark.implicits._
    val text = (1 to 47).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text), (2L, "a b")).toDF("doc_id", "text")
    val rows = TextStats.chunkDocuments(df, "text", "doc_id",
      maxTokens = 20, overlap = 5)
      .orderBy("doc_id", "chunk_id").collect()
    val d1 = rows.filter(_.getLong(0) == 1L)
    // starts 0,15,30; 45 dropped (< 5 fresh tokens, suffix of previous)
    assert(d1.map(_.getInt(2)).toSeq == Seq(0, 15, 30))
    assert(d1.map(_.getInt(3)).toSeq == Seq(20, 20, 17))
    // short doc: single chunk of its full length
    val d2 = rows.filter(_.getLong(0) == 2L)
    assert(d2.map(r => (r.getInt(2), r.getInt(3))).toSeq == Seq((0, 2)))
    // consecutive chunks share exactly `overlap` token positions
    assert(15 + 5 == 20 && 30 + 5 == 35)
  }

  test("VecNormalize: unit output, zero-vector passthrough, float input") {
    import spark.implicits._
    val df = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("id", "v")
    val out = df.select(col("id"), Ann.l2NormalizeExpr(col("v")).as("n"))
      .orderBy("id").as[(Long, Seq[Double])].collect()
    assert(out(0)._2 == Seq(0.6, 0.8))
    assert(out(1)._2 == Seq(0.0, 0.0)) // norm 0 → unchanged, no NaN
    // projection onto a 2-vector basis = the two dot products
    val basis = Array(Array(1.0, 0.0), Array(1.0, 1.0))
    val p = df.filter(col("id") === 1)
      .select(Ann.projectExpr(col("v"), basis).as("p"))
      .as[Seq[Double]].head()
    assert(p == Seq(3.0, 7.0))
  }

  test("connectedComponents: both paths reach the fixpoint on a chain") {
    import spark.implicits._
    // path 1-2-3-4-5 (diameter 4: needs >1 round), plus component {7,9},
    // plus the (a,c),(b,c) triangle-free case 10-12, 11-12
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 9L),
      (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    val cc = ConnectedComponents.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(cc(_) == 1L), s"chain must collapse to 1: $cc")
    assert(cc(7L) == 7L && cc(9L) == 7L)
    assert(cc(10L) == 10L && cc(11L) == 10L && cc(12L) == 10L)
    // the distributed large-star loop (forced) produces the identical
    // labeling
    val dist = ConnectedComponents.largeStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == cc, s"driver union-find and distributed loop disagree: $dist vs $cc")
  }

  test("packSequences: shard isolation, over-budget doc at a pack boundary starts its own pack") {
    import spark.implicits._
    // shard A: 4 docs of 3 tokens each, budget 6 → packs (0,0,1,1);
    // shard B independent numbering; one 10-token doc alone in shard C
    // starts its own pack even though it exceeds the budget
    val docs = Seq(
      (1L, "A", "a b c"), (2L, "A", "d e f"), (3L, "A", "g h i"),
      (4L, "A", "j k l"),
      (10L, "B", "m n o"), (11L, "B", "p q r"),
      (20L, "C", "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")
    ).toDF("doc_id", "source", "text")
    val packed = TextStats.packSequences(docs, "text", "doc_id", "source", budget = 6)
      .select("doc_id", "pack_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(packed(1L) == 0 && packed(2L) == 0, "first two 3-token docs share pack 0")
    assert(packed(3L) == 1 && packed(4L) == 1, "next two roll into pack 1")
    assert(packed(10L) == 0 && packed(11L) == 0, "shard B numbering restarts at 0")
    assert(packed(20L) == 0, "an over-budget doc still STARTS pack 0 of its shard")
    // pack token mass: no pack's STARTING offset exceeds the budget
    // boundary arithmetic (cum − len < (pack+1)·budget by construction)
    val rows = TextStats.packSequences(docs, "text", "doc_id", "source", budget = 6)
      .select("source", "n_tokens", "pack_id").collect()
    val bySrc = rows.groupBy(_.getString(0))
    bySrc.foreach { case (_, rs) =>
      val packs = rs.map(_.getInt(2)).distinct.sorted
      assert(packs.head == 0 && packs.toSeq == (0 until packs.length).toSeq,
        "contiguous pack ids")
    }
  }

  test("packSequences: an over-budget doc MID-shard overfills the open pack") {
    import spark.implicits._
    // budget 6, docs of 3 then 10 tokens: cum = 3, 13. The 10-token doc
    // starts at offset 3 (inside pack 0), so floor((13-10)/6)=0 — it
    // OVERFILLS pack 0 (13 tokens) rather than opening its own pack.
    // This is the documented first-fit approximation behavior.
    val docs = Seq(
      (1L, "D", "a b c"),
      (2L, "D", "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (3L, "D", "x y z")
    ).toDF("doc_id", "source", "text")
    val packed = TextStats.packSequences(docs, "text", "doc_id", "source", budget = 6)
      .select("doc_id", "pack_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(packed(1L) == 0, "3-token doc opens pack 0")
    assert(packed(2L) == 0, "over-budget doc mid-shard joins (overfills) pack 0")
    // cum after the big doc is 13; the next doc starts at 13 → pack 2
    // (pack 1 is skipped entirely — the spill consumed its budget)
    assert(packed(3L) == 2, "next doc lands past the spilled budget")
  }

  test("scrubPii: each pattern fires, embedded spans scrub, clean text untouched") {
    import spark.implicits._
    val cases = Seq(
      (1L, "contact me at john.doe+tag@sub.example.co today",
        "contact me at <EMAIL> today"),
      (2L, "see https://example.com/a?b=c#d for details",
        "see <URL> for details"),
      (3L, "server at 192.168.0.1 responded", "server at <IP> responded"),
      // URL with email-like userinfo: the email pass rewrites the
      // middle, then the URL pass consumes the whole remaining span
      (4L, "http://user@host.example.com/path", "<URL>"),
      (5L, "no pii here at all", "no pii here at all"),
      // version strings survive the \b-anchored IP pattern only if they
      // have more than 4 numeric groups (1.2.3.4.5 has a 4-group prefix:
      // document the behavior — the leading groups scrub)
      (6L, "x 1.2.3.4 y", "x <IP> y"))
    val got = cases.map(c => (c._1, c._2)).toDF("id", "text")
      .select(col("id"), TextStats.scrubPii(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (id, in, want) =>
      assert(got(id) == want, s"case $id: ${got(id)} (in: $in)")
    }
  }

  test("decontaminate drops exactly the n-gram-overlap docs; short docs survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares "alpha beta gamma" with eval
      (2L, "zeta eta theta iota kappa"),      // clean
      (3L, "one two"),                        // < n tokens: no shingles, survives
      (4L, "x alpha beta gamma y")            // contaminated mid-document
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(docs, "text", "doc_id", eval_, "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"expected {2,3}, got $kept")
    // n larger than the eval text: nothing can match, everything survives
    val all = Dedup.decontaminate(docs, "text", "doc_id", eval_, "text", n = 4)
      .count()
    assert(all == 4)
  }

  test("containmentPairs finds the directed small-inside-large pair Jaccard misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta" // 4 distinct 3-grams
    val large = small + " one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen" // 18 distinct 3-grams, superset
    val docs = Seq((1L, small), (2L, large),
      (3L, "totally unrelated words in this document here")).toDF("doc_id", "text")
    val p = Dedup.containmentPairs(docs, "text", "doc_id", threshold = 0.8)
    val got = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    p.unpersist(blocking = false)
    assert(got.toSeq == Seq((1L, 2L, 1.0)),
      s"expected only the directed (1→2) pair at 1.0, got ${got.toSeq}")
    // the symmetric join rejects the same pair: J = 4/18 < 0.8
    val j = Dedup.jaccardNearDupPairs(docs, "text", "doc_id", threshold = 0.8)
    assert(j.count() == 0)
    j.unpersist(blocking = false)
  }

  test("transitive drop keeps ONE representative per component; pairwise keeps more") {
    import spark.implicits._
    // pairs (1,3),(2,3): pairwise drop removes only id_b=3 (keeps 1 AND
    // 2); single-link keeps only the component min 1
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val pairwise = Dedup.dropNearDuplicates(d, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val transitive = Dedup.dropNearDuplicatesTransitive(d, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairwise == Set(1L, 2L, 4L))
    assert(transitive == Set(1L, 4L))
  }

  test("connectedComponents: empty pair list yields empty clusters") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(ConnectedComponents.connectedComponents(none).count() == 0)
  }

  test("semanticNearDupPairs matches brute-force within-cell cosine pairs") {
    val cs = AnnQueries.fixedIvfCentroids
    val out = Ann.semanticNearDupPairs(emb, "vec_id", "embedding", cs,
      threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: same cell AND cosine >= t over all pairs
    val cells = emb.select(col("vec_id"),
      Ann.cellExpr(col("embedding"), cs).as("cell"),
      col("embedding"))
    val a = cells.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val b = cells.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val brute = a.join(b, "cell").filter(col("id_a") < col("id_b"))
      .filter(Ann.dotExpr(col("va"), col("vb")) /
        (Ann.normExpr(col("va")) * Ann.normExpr(col("vb"))) >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == brute,
      s"missing=${(brute -- out).take(5)} extra=${(out -- brute).take(5)}")
    assert(out.nonEmpty, "threshold should yield pairs on the fixture")
  }

  test("semanticNearDupPairs cluster cap drops oversized cells, never invents pairs") {
    val cs = AnnQueries.fixedIvfCentroids
    val uncapped = Ann.semanticNearDupPairs(emb, "vec_id", "embedding", cs,
      threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Ann.semanticNearDupPairs(emb, "vec_id", "embedding", cs,
      threshold = 0.4, maxClusterSize = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
  }

  test("contaminationStats: graded fractions, consistency with the binary drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), // shingles {a b c, b c d}
      (2L, "a b c x"), // {a b c, b c x} — half contaminated vs eval {a b c ...}
      (3L, "p q r s"), // disjoint
      (4L, "zz") // too short: no shingles
    ).toDF("doc_id", "text")
    val eval_ = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val out = Dedup.contaminationStats(docs, "text", "doc_id", eval_, "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    // binary drop == frac > 0
    val dropped = docs.select("doc_id").except(
      Dedup.decontaminate(docs, "text", "doc_id", eval_, "text", n = 3)
        .select("doc_id")).collect().map(_.getLong(0)).toSet
    assert(dropped == out.filter(_._2._3 > 0).keySet)
  }

  test("groupCentroids averages per dimension; centroidSimilarity is exact cosine") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(1.0, 0.0)), ("a", Seq(3.0, 0.0)), // centroid (2, 0)
      ("b", Seq(0.0, 2.0)), ("b", Seq(0.0, 4.0)), // centroid (0, 3)
      ("c", Seq(2.0, 2.0)) // centroid (2, 2)
    ).toDF("k", "v")
    val cents = Ann.groupCentroids(df, "k", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[Double](1).toList, r.getLong(2))))
      .toMap
    assert(cents == Map(
      "a" -> ((List(2.0, 0.0), 2L)),
      "b" -> ((List(0.0, 3.0), 2L)),
      "c" -> ((List(2.0, 2.0), 1L))))
    val sims = Ann.centroidSimilarity(df, "k", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(sims(("a", "b")) ~== 0.0)
    assert(sims(("a", "c")) ~== math.sqrt(0.5))
    assert(sims(("b", "c")) ~== math.sqrt(0.5))
    assert(sims.size == 3)
  }

  test("distinctNgramRatio matches the hand count; sub-n docs are null") {
    import spark.implicits._
    val df = Seq((1L, "a b a b c"), (2L, "x y"), (3L, "solo"))
      .toDF("id", "text")
    val out = df.select(col("id"),
      TextStats.distinctNgramRatio(col("text"), 1).as("d1"),
      TextStats.distinctNgramRatio(col("text"), 2).as("d2"),
      TextStats.distinctNgramRatio(col("text"), 3).as("d3"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    // t=[a,b,a,b,c]: d1=3/5; bigrams [a b, b a, a b, b c]: 3/4;
    // trigrams [a b a, b a b, a b c]: 3/3
    assert(out(1L) == ((Some(0.6), Some(0.75), Some(1.0))))
    assert(out(2L) == ((Some(1.0), Some(1.0), None)))
    assert(out(3L) == ((Some(1.0), None, None)))
  }

  test("distinct-1 agrees with the TokenStats uniqueTokenRatio kernel") {
    val docs = graft.core.Tables.documents(spark, sfDir).limit(50)
    val diff = docs.select(
      (TextStats.distinctNgramRatio(col("text"), 1) -
        TextStats.uniqueTokenRatio(col("text"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diff == 0.0)
  }
}
