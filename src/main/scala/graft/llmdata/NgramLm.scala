package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical n-gram language-model scoring for corpus quality
  * filtering — the CCNet design (Wenzek et al., LREC 2020: score every
  * document by the perplexity of an LM trained on a trusted corpus;
  * keep the low-perplexity tail). The reference pipeline uses a 5-gram
  * KenLM; this re-expression trains an interpolated bigram model
  * entirely as aggregates, so "training" is two count shuffles and
  * scoring is a broadcast-join scan:
  *
  *  - counts: unigram + bigram `groupBy(...).count` over the trusted
  *    slice (map-side partial aggregation — skew-safe for stopwords).
  *  - model size is VOCABULARY-sized, not corpus-sized: at 100 TB the
  *    count tables still fit executor memory (10⁷–10⁸ keys) and ship
  *    as broadcast joins; the corpus-sized token stream never shuffles
  *    during scoring.
  *  - probabilities are rational functions of integer counts
  *    (interpolated bigram with add-one unigram smoothing, Chen &
  *    Goodman 1996 family), so Spark and the SQL oracle compute
  *    bit-identical doubles; only the final ln/avg sees float
  *    accumulation, absorbed by the gate's round(…, 6).
  *
  * Per-token probability, position i in a document:
  *   i = 0:  p = (c(w)+1) / (N+V)                      (smoothed unigram)
  *   i > 0:  p = λ·c(prev,w)/c(prev) + μ·(c(w)+1)/(N+V)
  *           (bigram term 0 when prev is unseen)
  * Document score = -avg(ln p) — natural-log NLL; perplexity = e^score.
  */
object NgramLm {

  private def toks(textCol: Column): Column = split(textCol, " ")

  /** Train on a trusted reference slice: (unigram counts, bigram counts,
    * 1-row totals {n_tokens_ref, v_size}). Bigram keys are the joined
    * string "prev w" — tokens never contain spaces by construction.
    */
  def train(ref: DataFrame, textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val t = graft.core.FanOut.byKey(ref, textCol)
      .select(toks(col(textCol)).as("t"))
    val uni = t.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi = t.filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", col("t")(i - 1), col("t")(i)))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
    val totals = uni.agg(sum("cw").cast("long").as("n_tokens_ref"),
      count(lit(1)).as("v_size"))
    (uni, bi, totals)
  }

  /** Score every document against a trained model: one row per doc with
    * `n_tokens` and `nll` (-avg ln p, unrounded). The three model
    * frames are broadcast — the scored corpus only pays a scan.
    */
  def score(docs: DataFrame, textCol: String, idCol: String,
      uni: DataFrame, bi: DataFrame, totals: DataFrame,
      lambdaBi: Double = 0.9, lambdaUni: Double = 0.1): DataFrame = {
    val pos = graft.core.FanOut.byKey(docs, idCol)
      .select(col(idCol), toks(col(textCol)).as("t"))
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("t")) - 1),
        i => struct(col("t")(i).as("w"),
          when(i > 0, col("t")(i - 1)).as("prev")))).as("g"))
      .select(col(idCol), col("g.w").as("w"), col("g.prev").as("prev"))
    val scored = pos
      .join(broadcast(uni), Seq("w"), "left")
      .join(broadcast(uni.select(col("w").as("prev"), col("cw").as("cprev"))),
        Seq("prev"), "left")
      .withColumn("bg", concat_ws(" ", col("prev"), col("w")))
      .join(broadcast(bi), Seq("bg"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("puni",
        (coalesce(col("cw"), lit(0L)) + 1).cast("double") /
          (col("n_tokens_ref") + col("v_size")).cast("double"))
      .withColumn("pbi", when(col("cprev").isNotNull,
          coalesce(col("cb"), lit(0L)).cast("double") /
            col("cprev").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("p", when(col("prev").isNull, col("puni"))
        .otherwise(lit(lambdaBi) * col("pbi") + lit(lambdaUni) * col("puni")))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), (-avg(log(col("p")))).as("nll"))
  }

  /** Train on `refFilter` docs, score ALL docs (CCNet: the trusted slice
    * defines "quality"; everything is ranked by distance from it).
    */
  /** Per-key (typically per-language) models in ONE pass: every count
    * table and total carries `keyCol`, and each document is scored
    * against the model of ITS OWN key — the actual CCNet deployment
    * shape (one KenLM per language; Wenzek LREC'20 §3.3). No extra
    * shuffles vs the single-model path: the key rides the same
    * aggregation and broadcast-join keys.
    */
  def perplexityScoreByKey(docs0: DataFrame, textCol: String, idCol: String,
      keyCol: String): DataFrame = {
    val docs = graft.core.FanOut.byKey(docs0, idCol)
    val t = docs.select(col(keyCol), toks(col(textCol)).as("t"))
    val uni0 = t.select(col(keyCol), explode(col("t")).as("w"))
      .groupBy(keyCol, "w").agg(count(lit(1)).as("cw"))
    val uni = graft.core.Memos.persist(uni0)
    val bi = t.filter(size(col("t")) >= 2)
      .select(col(keyCol), explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", col("t")(i - 1), col("t")(i)))).as("bg"))
      .groupBy(keyCol, "bg").agg(count(lit(1)).as("cb"))
    val totals = uni.groupBy(keyCol)
      .agg(sum("cw").cast("long").as("n_tokens_ref"),
        count(lit(1)).as("v_size"))
    val pos = docs.select(col(idCol), col(keyCol), toks(col(textCol)).as("t"))
      .select(col(idCol), col(keyCol), explode(transform(
        sequence(lit(0), size(col("t")) - 1),
        i => struct(col("t")(i).as("w"),
          when(i > 0, col("t")(i - 1)).as("prev")))).as("g"))
      .select(col(idCol), col(keyCol), col("g.w").as("w"), col("g.prev").as("prev"))
    val scored = pos
      .join(broadcast(uni), Seq(keyCol, "w"), "left")
      .join(broadcast(uni.select(col(keyCol), col("w").as("prev"),
        col("cw").as("cprev"))), Seq(keyCol, "prev"), "left")
      .withColumn("bg", concat_ws(" ", col("prev"), col("w")))
      .join(broadcast(bi), Seq(keyCol, "bg"), "left")
      .join(broadcast(totals), Seq(keyCol))
      .withColumn("puni",
        (coalesce(col("cw"), lit(0L)) + 1).cast("double") /
          (col("n_tokens_ref") + col("v_size")).cast("double"))
      .withColumn("pbi", when(col("cprev").isNotNull,
          coalesce(col("cb"), lit(0L)).cast("double") /
            col("cprev").cast("double"))
        .otherwise(lit(0.0)))
      .withColumn("p", when(col("prev").isNull, col("puni"))
        .otherwise(lit(0.9) * col("pbi") + lit(0.1) * col("puni")))
    scored.groupBy(col(idCol), col(keyCol))
      .agg(count(lit(1)).as("n_tokens"), (-avg(log(col("p")))).as("nll"))
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney ICASSP'95;
    * Chen & Goodman 1999 eq. 16-18) — the smoothing KenLM itself uses,
    * so this is the closest in-engine analog of CCNet's actual scorer.
    * Absolute discount D on seen bigrams, with the discounted mass
    * redistributed over the CONTINUATION unigram (how many distinct
    * contexts a word completes), not the raw unigram — the fix for
    * "Francisco is frequent but only follows San":
    *
    *   i>0, seen ctx: p = max(c(prev,w)−D, 0)/cctx(prev)
    *                     + D·N1+(prev,•)/cctx(prev) · pcont(w)
    *   i=0 or unseen ctx: p = pcont(w)
    *   pcont(w) = (N1+(•,w)+1) / (|bigram types| + V)   (add-one so
    *              words that never end a bigram, and OOV, stay finite)
    *
    * Every model table derives from the ONE persisted bigram count
    * frame (context totals + follower fan-out from a groupBy(prev),
    * continuation counts from a groupBy(w), type totals from its
    * count) — all vocabulary-sized aggregates broadcast to the scan,
    * exactly the [[score]] plan shape: the corpus token stream never
    * shuffles. Counts are integers, so both engines compute identical
    * doubles; the gate rounds only the final nll.
    */
  def kneserNeyScore(docs: DataFrame, textCol: String, idCol: String,
      refFilter: Column, discount: Double = 0.75): DataFrame = {
    val t = docs.filter(refFilter).select(toks(col(textCol)).as("t"))
    val uni = t.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi0 = t.filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(col("t")(i - 1).as("prev"), col("t")(i).as("w")))).as("g"))
      .select(col("g.prev").as("prev"), col("g.w").as("w"))
      .groupBy("prev", "w").agg(count(lit(1)).as("cb"))
    // feeds ctx, cont, totals AND the per-token join — one aggregation
    val bi = graft.core.Memos.persist(bi0)
    val ctx = bi.groupBy("prev")
      .agg(sum("cb").cast("long").as("cctx"), count(lit(1)).as("n1f"))
    val cont = bi.groupBy("w").agg(count(lit(1)).as("n1b"))
    val totals = bi.agg(count(lit(1)).as("n_bi_types"))
      .crossJoin(uni.agg(count(lit(1)).as("v_size")))

    val pos = graft.core.FanOut.byKey(docs, idCol)
      .select(col(idCol), toks(col(textCol)).as("t"))
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("t")) - 1),
        i => struct(col("t")(i).as("w"),
          when(i > 0, col("t")(i - 1)).as("prev")))).as("g"))
      .select(col(idCol), col("g.w").as("w"), col("g.prev").as("prev"))
    val scored = pos
      .join(broadcast(cont), Seq("w"), "left")
      .join(broadcast(ctx), Seq("prev"), "left")
      .join(broadcast(bi), Seq("prev", "w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("pcont",
        (coalesce(col("n1b"), lit(0L)) + 1).cast("double") /
          (col("n_bi_types") + col("v_size")).cast("double"))
      .withColumn("p",
        when(col("prev").isNull || col("cctx").isNull, col("pcont"))
          .otherwise(
            greatest(coalesce(col("cb"), lit(0L)).cast("double") -
              lit(discount), lit(0.0)) / col("cctx").cast("double") +
              lit(discount) * col("n1f").cast("double") /
                col("cctx").cast("double") * col("pcont")))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), (-avg(log(col("p")))).as("nll"))
  }

  def perplexityScore(docs: DataFrame, textCol: String, idCol: String,
      refFilter: Column): DataFrame = {
    val (uni0, bi, totals) = train(docs.filter(refFilter), textCol)
    // uni feeds THREE broadcasts (unigram join, prev-count join, totals);
    // persist the vocab-sized count table so training is genuinely one
    // pass.
    val uni = graft.core.Memos.persist(uni0)
    score(docs, textCol, idCol, uni, bi, totals)
  }

  /** CCNet §3.3 head/middle/tail split: bucket every document by where
    * its perplexity falls among documents of ITS OWN key (language) —
    * head = the trusted-looking third, tail = the discard candidates.
    *
    * The cutoffs are two exact percentiles PER KEY — a key-cardinality-
    * row aggregate broadcast back onto the scored corpus. The ntile
    * formulation would sort every language partition end-to-end (a
    * single language can be a third of a 100 TB corpus); this plan
    * never sorts the corpus at all. Both the scores and the cutoffs are
    * rounded to 1e-6 before the boundary compare, so the bucket
    * assignment is reproducible cross-engine.
    *
    * Scale note: `percentile` is exact and buffers one double PER
    * DOCUMENT per key — right up to ~10⁸ docs/language, beyond that
    * swap the cutoff aggregate to `approx_percentile(nll, p, acc)`
    * (GK — mergeable, bounded memory, rank error ≤ 1/acc; the repo's
    * q_approx_quantile_bounds gate pins the guarantee). The boundary
    * compare and everything else is unchanged.
    */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
      keyCol: String): DataFrame = {
    // The scored frame feeds both the cutoff aggregate and the final
    // join — persist the (id, key, n_tokens, nll) projection so the
    // scoring DAG runs once (bounded: 4 narrow columns per doc).
    val scored = graft.core.Memos.persist(
      perplexityScoreByKey(docs, textCol, idCol, keyCol)
        .select(col(idCol), col(keyCol), col("n_tokens"),
          round(col("nll"), 6).as("nll")))
    val cuts = scored.groupBy(keyCol).agg(
      round(expr("percentile(nll, 0.3333333333333333D)"), 6).as("__c1"),
      round(expr("percentile(nll, 0.6666666666666666D)"), 6).as("__c2"))
    scored.join(broadcast(cuts), Seq(keyCol))
      .withColumn("bucket",
        when(col("nll") <= col("__c1"), lit("head"))
          .when(col("nll") <= col("__c2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(keyCol), col("n_tokens"), col("nll"),
        col("bucket"))
  }
}
