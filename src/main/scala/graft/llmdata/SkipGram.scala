package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Memos

/** Skip-gram training-pair generation with weighted negative sampling
  * (word2vec, Mikolov et al. NIPS'13 "Distributed representations of
  * words and phrases") — the operator that turns a tokenized corpus
  * into the (center, context, label) examples an embedding trainer
  * consumes. At 100 TB this IS the embedding-table data pipeline; the
  * walk corpus from [[graft.graph.RandomWalks]] feeds the same shape
  * for graph embeddings (DeepWalk's training stage).
  *
  * Positives: for every token position i, every token in the
  * symmetric window [i−w, i+w] except position i itself — generated
  * SCAN-FUSED per document (two Generate nodes over the token array:
  * posexplode for the center, a bounded slice + posexplode for the
  * window), no self-join, no window function, no shuffle.
  *
  * Negatives: k per positive, drawn from the smoothed unigram
  * distribution P(t) ∝ count(t)^power (power = 0.75, the paper's
  * noise distribution). The draw is the house md5 convention —
  * `md5("{salt}{doc}:{pos}:{ctxPos}:{j}") mod totalWeight` — mapped
  * to a token through the cumulative-weight table
  * [lo(t), hi(t)), so the whole sample replays in any engine with md5
  * (DuckDB mirror: the same hex-prefix arithmetic + a range join).
  *
  * Scale shape of the negative lookup: the cumulative vocab table is
  * fit once (one corpus-scan unigram aggregate, one ordered prefix sum
  * over the ≤|vocab| frame, persisted) and the draw→token lookup is a
  * BUCKETED EQUI-JOIN, not a theta/range join: each vocab interval
  * explodes to the ⌈wt/bucket⌉ draw-buckets it overlaps (≤ |vocab| +
  * nBuckets rows total), draws join on their bucket id and filter the
  * interval bound. Hot tokens span many buckets, so the join key stays
  * unskewed no matter how Zipfian the vocabulary — the alias-table
  * trick re-expressed relationally.
  *
  * Weight quantization: wt(t) = round(count^power · 1e6) as BIGINT —
  * integer state cross-engine; total weight stays < 2^63 for any
  * corpus below ~9·10^12 smoothed-weight units (a 100 TB vocab is
  * ~10^7 types × ≤(10^12)^0.75·10^6 — if a corpus approaches the
  * bound, drop the 1e6 scale first, the draw only needs relative
  * weights).
  */
object SkipGram {

  import graft.llmdata.TextStats.tokens


  /** Positive skip-gram pairs only: (doc, pos, center, ctx_pos,
    * context). Bounded fan-out 2·window per token, scan-fused.
    */
  def positives(df: DataFrame, textCol: String, idCol: String,
      window: Int = 2): DataFrame =
    sequencePositives(
      df.select(col(idCol).as("__sid"), tokens(col(textCol)).as("__seq")),
      "__seq", "__sid", window)

  /** The same window-pair generation over an ALREADY-SEQUENCED array
    * column — element type carries through (longs for the
    * [[graft.graph.RandomWalks]] trajectories, strings for text), so
    * this one body serves both word2vec and DeepWalk/node2vec
    * training-pair generation.
    */
  def sequencePositives(df: DataFrame, seqCol: String, idCol: String,
      window: Int = 2): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    val winStart = greatest(lit(0), col("__pos") - window)
    val winLen =
      least(size(col("__t")) - 1, col("__pos") + window) - winStart + 1
    df.select(col(idCol).as("__id"), col(seqCol).as("__t"))
      .select(col("__id"), col("__t"),
        posexplode(col("__t")).as(Seq("__pos", "__center")))
      .select(col("__id"), col("__pos"), col("__center"),
        winStart.as("__ws"),
        posexplode(slice(col("__t"), winStart + 1, winLen))
          .as(Seq("__rel", "__context")))
      .filter(col("__ws") + col("__rel") =!= col("__pos"))
      .select(col("__id").as("doc"), col("__pos").as("pos"),
        col("__center").as("center"),
        (col("__ws") + col("__rel")).as("ctx_pos"),
        col("__context").as("context"))
  }

  /** GloVe-style distance-weighted co-occurrence counts (Pennington,
    * Socher & Manning EMNLP'14): X(center, context) = Σ 1/d over every
    * window co-occurrence at token distance d — the sufficient
    * statistic the GloVe objective trains on, and the third member of
    * the embedding-data family beside the skip-gram pairs and the walk
    * corpus. Same scan-fused window generation as [[positives]]
    * followed by ONE (center, context) rollup with map-side partial
    * sums; output is vocab-pair-bounded, never corpus-sized. The 1/d
    * weights for window ≤ 2 are dyadic (1, 0.5) so the sums are
    * float-exact; larger windows round at the gate boundary like every
    * double surface.
    *
    * @param minX drop pairs with X below this (hapax pairs are noise —
    *   GloVe's f(x) weighting effectively does the same)
    */
  def cooccurrenceCounts(df: DataFrame, textCol: String, idCol: String,
      window: Int = 2, minX: Double = 0.0): DataFrame =
    coocRollup(positives(df, textCol, idCol, window), minX)

  /** The same distance-weighted X matrix over an ALREADY-SEQUENCED
    * array column (walk corpora: node ids for tokens) — one body, both
    * modalities, the [[sequencePositives]] contract.
    */
  def sequenceCooccurrence(df: DataFrame, seqCol: String, idCol: String,
      window: Int = 2, minX: Double = 0.0): DataFrame =
    coocRollup(sequencePositives(df, seqCol, idCol, window), minX)

  private def coocRollup(pos: DataFrame, minX: Double): DataFrame =
    pos.select(col("center"), col("context"),
        (lit(1.0) / abs(col("pos") - col("ctx_pos")).cast("double"))
          .as("__w"))
      .groupBy("center", "context")
      .agg(round(sum("__w"), 6).as("x"),
        count(lit(1)).as("n_cooc"))
      .filter(col("x") >= minX)

  /** Full training set: positives (label 1) plus `negatives` noise
    * pairs per positive (label 0, context drawn from the smoothed
    * unigram distribution). Output (doc, pos, center, context, label).
    *
    * @param power unigram smoothing exponent (0.75 = word2vec noise)
    * @param nBuckets draw-bucket count for the equi-join lookup
    */
  def trainingPairs(df: DataFrame, textCol: String, idCol: String,
      window: Int = 2, negatives: Int = 2, power: Double = 0.75,
      salt: String = "sg", nBuckets: Int = 1 << 12): DataFrame = {
    require(negatives >= 1 && nBuckets >= 1,
      s"need negatives >= 1 and nBuckets >= 1, got $negatives, $nBuckets")
    val pos = positives(df, textCol, idCol, window)
    // fit-once noise table: smoothed integer weights + cumulative
    // intervals over the ≤|vocab| aggregate — a large vocab would make
    // a global window a single-partition sort, so the interval ends
    // come from a range-partitioned two-pass prefix sum (guide §2,
    // r15; long addend, regrouping exact)
    val cum = Memos.persist(graft.core.Prefix.cumSums(
        df.select(explode(tokens(col(textCol))).as("__w"))
          .groupBy("__w").agg(count(lit(1)).as("__c"))
          .withColumn("__wt",
            round(pow(col("__c").cast("double"), power) * 1e6).cast("long")),
        Seq(col("__w")), Seq((col("__wt"), "__hi", true)))
      .withColumn("__lo", col("__hi") - col("__wt"))
      .select(col("__w"), col("__lo"), col("__hi")))
    val tot = cum.agg(max("__hi")).head().getLong(0)
    val bucket = math.max(1L, (tot + nBuckets - 1) / nBuckets)
    // each vocab interval → the draw-buckets it overlaps (≤ |vocab| +
    // nBuckets rows): hot tokens span many buckets, the join key is
    // uniform by construction
    // bucket ids via integer `div` (BIGINT-exact to 2^63): double
    // `/`+floor is only exact below 2^53 total smoothed weight, and a
    // draw landing in an unexploded bucket would silently drop its
    // negative
    val bucketed = cum.select(col("__w"), col("__lo"), col("__hi"),
      explode(sequence(expr(s"__lo div ${bucket}L"),
        expr(s"(__hi - 1) div ${bucket}L"))).as("__b"))
    val draw = pmod(
      conv(substring(md5(concat(lit(salt),
        col("doc").cast("string"), lit(":"),
        col("pos").cast("string"), lit(":"),
        col("ctx_pos").cast("string"), lit(":"),
        col("__j").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(tot))
    val neg = pos
      .withColumn("__j",
        explode(sequence(lit(0), lit(negatives - 1))))
      .withColumn("__draw", draw)
      .withColumn("__b", expr(s"__draw div ${bucket}L"))
      .join(bucketed, Seq("__b"))
      .filter(col("__draw") >= col("__lo") && col("__draw") < col("__hi"))
      .select(col("doc"), col("pos"), col("center"),
        col("__w").as("context"), lit(0).as("label"))
    pos.select(col("doc"), col("pos"), col("center"), col("context"),
        lit(1).as("label"))
      .unionByName(neg)
  }
}
