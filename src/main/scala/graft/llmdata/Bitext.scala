package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Margin-based parallel-corpus mining (Artetxe & Schwenk, "Margin-based
  * Parallel Corpus Mining with Multilingual Sentence Embeddings", ACL
  * 2019 — the LASER/CCMatrix recipe): score a cross-lingual candidate
  * pair not by raw cosine but by the RATIO margin
  *
  *   margin(x, y) = cos(x, y) / ((avgTopK(x) + avgTopK(y)) / 2)
  *
  * where avgTopK(x) is the mean cosine of x's k nearest candidates on
  * the OTHER side — normalizing away "hubness" (embeddings that are
  * close to everything); keep pairs that are MUTUAL margin-best above a
  * threshold.
  *
  * Scale shape: the scorer consumes a CANDIDATE PAIR frame
  * (id_a, id_b, cos) — at gate scale the brute-force cross product,
  * at 100 TB the output of the ANN family's bucketed top-k join (the
  * margin arithmetic is index-agnostic, which is exactly how CCMatrix
  * runs it). Per-side top-k means are aggregates over sorted arrays
  * bounded by each id's CANDIDATE count (never corpus-sized); the
  * mutual-best selection is the house min-struct argmax — no windows.
  * Rounding: selections and the threshold compare on round(margin, 6)
  * with id tie-breaks, so an independent engine replays the identical
  * mined set.
  */
object Bitext {

  /** Left-to-right fold over the pair's unit vectors — the summation
    * convention the embedding gates share with their oracles.
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private def unit(v: Column): Column = {
    val n = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))
    transform(v, x => x / n)
  }

  /** Brute-force candidate pairs: every (src, tgt) with its cosine.
    * The TARGET side is broadcast explicitly (flat-ANN convention:
    * stream the big side, replicate the small one — a
    * BroadcastNestedLoopJoin, never a shuffled CartesianProduct); swap
    * the whole helper for an ANN candidate join at volume.
    */
  def candidateCosines(src: DataFrame, tgt: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val a = src.select(col(idCol).cast("long").as("id_a"),
      unit(col(vecCol).cast("array<double>")).as("__ua"))
    val b = tgt.select(col(idCol).cast("long").as("id_b"),
      unit(col(vecCol).cast("array<double>")).as("__ub"))
    a.crossJoin(broadcast(b))
      .select(col("id_a"), col("id_b"), dot(col("__ua"), col("__ub")).as("cos"))
  }

  /** LSH-bucketed candidate pairs — the scale path: both sides get the
    * same deterministic random-hyperplane signature (the ANN family's
    * [[Ann.signatureExpr]]), candidates are an EQUI-join on the bucket
    * (2^nPlanes buckets bound each join group; no cross product
    * anywhere), cosines only within buckets. Recall < 1 by design —
    * the standard CCMatrix-scale tradeoff; margin scoring downstream is
    * identical to the exact path.
    */
  def lshCandidateCosines(src: DataFrame, tgt: DataFrame, vecCol: String,
      idCol: String, nPlanes: Int, dim: Int, seed: Int = 42): DataFrame = {
    val planes = Ann.hyperplanes(nPlanes, dim, seed)
    def side(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).cast("long").as(id),
        unit(col(vecCol).cast("array<double>")).as(s"__u$id"),
        Ann.signatureExpr(col(vecCol), planes).as("bucket"))
    side(src, "id_a").join(side(tgt, "id_b"), "bucket")
      .select(col("id_a"), col("id_b"),
        dot(col("__uid_a"), col("__uid_b")).as("cos"))
  }

  /** Mean of the top-k cosines per key — a fold over the sorted
    * (cos DESC, other-id ASC) candidate array, truncated to k, so the
    * summation ORDER is pinned for cross-engine replay.
    */
  private def topkMean(pairs: DataFrame, keyCol: String, otherCol: String,
      k: Int, out: String): DataFrame =
    pairs.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct((-col("cos")).as("nc"),
        col(otherCol).as("i")))).as("__s"))
      .select(col(keyCol),
        (aggregate(slice(col("__s"), 1, k), lit(0.0),
          (acc, s) => acc - s("nc")) /
          least(lit(k), size(col("__s")))).as(out))

  /** @param pairs candidate frame (id_a, id_b, cos)
    * @param k     neighborhood size for the hubness normalizer
    * @param threshold minimum round(margin, 6) to mine a pair
    * @return mutual margin-best pairs: (src_id, tgt_id, cos, margin),
    *   cos/margin rounded to 6
    */
  def mineMutualBest(pairs0: DataFrame, k: Int = 4,
      threshold: Double = 1.05): DataFrame = {
    // candidate cosines feed three branches (both hubness normalizers
    // + the scored join spine) — eager persist so the per-pair dot
    // products run once, not 3× concurrently (FanOut.shared doc)
    val pairs = graft.core.FanOut.shared(pairs0)
    val ka = topkMean(pairs, "id_a", "id_b", k, "__ma")
    val kb = topkMean(pairs, "id_b", "id_a", k, "__mb")
    val m = pairs.join(ka, "id_a").join(kb, "id_b")
      .select(col("id_a"), col("id_b"), col("cos"),
        (col("cos") / ((col("__ma") + col("__mb")) / 2.0)).as("__mg"))
    // argmax margin per side, min-other-id tie-break, payload riding
    // behind the unique (margin, id) prefix of the struct
    def best(keyCol: String, otherCol: String): DataFrame =
      m.groupBy(col(keyCol))
        .agg(min(struct((-round(col("__mg"), 6)).as("nm"),
          col(otherCol).as("o"), col("cos").as("c"),
          col("__mg").as("mg"))).as("__b"))
        .select(col(keyCol), col("__b.o").as(otherCol),
          col("__b.c").as("__c"), col("__b.mg").as("__g"))
    val fwd = best("id_a", "id_b")
    val bwd = best("id_b", "id_a").select(col("id_a"), col("id_b"))
    fwd.join(bwd, Seq("id_a", "id_b"))
      .filter(round(col("__g"), 6) >= threshold)
      .select(col("id_a").as("src_id"), col("id_b").as("tgt_id"),
        round(col("__c"), 6).as("cos"), round(col("__g"), 6).as("margin"))
  }
}
