package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid-retrieval rank fusion.
  *
  * Retrieval composition sits outside the reference's estimator surface
  * but is first-class in LLM data curation and RAG serving: the standard
  * production shape fuses a lexical ranking (BM25) with a vector ranking
  * (embedding cosine) of the same corpus. The algorithm is reciprocal
  * rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
  *
  *   rrf(d) = Σ over lists L that contain d of 1 / (kRrf + rank_L(d))
  *
  * — a document absent from a list contributes nothing for that list
  * (NOT a worst-rank penalty), and kRrf (60 in the paper and in every
  * production default) damps the head so one list's #1 can't dominate.
  */
object Retrieval {

  /** Fuse bounded ranked lists into one ranking.
    *
    * Every input is already bounded (a retriever's top-N), so every
    * stage here is bounded too: one union of ≤ Σ|L| rows, one
    * partial-aggregated groupBy on the doc key, one size-k heap
    * aggregate (TopKByScore) for the final order — no window, no
    * corpus-sized shuffle. At 100 TB the retrievers (BM25 top-N, ANN
    * top-N — both exactly-gated operators here) do the heavy lifting;
    * fusion is O(Σ|L|) regardless of corpus size.
    *
    * The final rank is taken on round(rrf, 9) with id-ascending tie
    * break: for two lists an IEEE sum is order-stable, but rounding is
    * the repo's cross-engine ranking convention (a last-ulp difference
    * at a rank boundary must not reorder engines), and 1e-9 is far
    * below the ~1e-4 spacing of distinct rrf sums at kRrf=60.
    *
    * @param lists  ranked lists, each with (idCol, rankCol) where rank
    *               is 1-based best-first
    * @param k      fused neighbors to keep
    * @param kRrf   rank damping constant (paper default 60)
    * @return (rank, idCol, rrf, n_lists) best-first
    */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k > 0, s"k must be positive, got $k")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    val tagged = lists
      .map(_.select(col(idCol), col(rankCol).cast("long").as("__rank")))
      .reduce(_ unionByName _)
    val fused = tagged.groupBy(idCol)
      .agg(sum(lit(1.0) / (lit(kRrf.toLong) + col("__rank"))).as("rrf"),
        count(lit(1)).as("n_lists"))
    val top = fused.groupBy()
      .agg(graft.functions.TopKByScore(round(col("rrf"), 9), col(idCol), k)
        .as("__nn"))
      .select(posexplode(col("__nn")).as(Seq("__pos", "__s")))
      .select((col("__pos") + 1).cast("int").as("rank"),
        col("__s.id").as(idCol))
    // fused is bounded (≤ Σ|L| rows): broadcast the score/membership
    // columns back rather than threading them through the heap struct
    top.join(broadcast(fused), idCol)
      .select(col("rank"), col(idCol), col("rrf"), col("n_lists"))
  }

  /** Maximal Marginal Relevance diverse re-ranking (Carbonell &
    * Goldstein, SIGIR 1998): greedily pick k results maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) — the
    * redundancy-penalized top-k used to de-duplicate retrieval results
    * and diversify few-shot example selection.
    *
    * Scale shape: the candidate frame is ALREADY bounded (a retriever's
    * top-N — here never the corpus), so each of the k greedy steps is a
    * 1-row argmax over that persisted frame plus a running-max
    * similarity update against the newest pick's literal vector — the
    * Coreset farthest-first pattern with a relevance term. Similarities
    * and scores are rounded to 6 at every handoff (id-ascending ties),
    * so the trajectory replays exactly in generated SQL.
    *
    * @param cands (idCol: long, relCol: double ALREADY quantized,
    *   vecCol: float/double array)
    * @return (step, id, score) in pick order, 1-based
    */
  def mmrSelect(cands: DataFrame, idCol: String, relCol: String,
      vecCol: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1 && lambda >= 0.0 && lambda <= 1.0)
    val spark = cands.sparkSession
    import spark.implicits._
    var state = graft.core.Memos.persist(cands.select(
        col(idCol).cast("long").as("id"), col(relCol).as("rel"),
        col(vecCol).as("vec"))
      .withColumn("maxsim", lit(0.0)))
    // stops early when candidates run out (k larger than the list)
    val picks = Iterator.from(1).takeWhile(_ <= k).map { step =>
      val scored = state.withColumn("score",
        round(lit(lambda) * col("rel")
          - lit(1.0 - lambda) * col("maxsim"), 6))
      scored.orderBy(col("score").desc, col("id")).limit(1)
        .collect().headOption.map { best =>
          val bestId = best.getAs[Long]("id")
          val bestVec = best.getAs[scala.collection.Seq[Float]]("vec").toSeq
          state = graft.core.Memos.persist(state
            .where(col("id") =!= bestId)
            .withColumn("maxsim", greatest(col("maxsim"),
              round(graft.functions.VecDot(col("vec"),
                lit(bestVec.toArray)), 6))))
          (step, bestId, best.getAs[Double]("score"))
        }
    }.takeWhile(_.isDefined).flatten.toSeq
    picks.toDF("step", "id", "score")
  }
}
