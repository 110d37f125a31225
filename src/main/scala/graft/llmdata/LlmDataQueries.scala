package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryPack, Tables}
import graft.modelselection.Splits

/** Oracle-verified queries for the LLM-data-pipeline operators: text
  * stats, language ID, fingerprinting, exact + MinHash-LSH dedup, and
  * embedding similarity search. The md5-seeded hash family makes even
  * the MinHash pipeline bit-reproducible in DuckDB.
  */
object LlmDataQueries extends QueryPack {

  /** Target language mixture for the v2 pipeline's budgeted sampling
    * stage (shared with its oracle).
    */
  private val pipelineMixTargets: Map[String, Double] = Map(
    "en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1)

  /** The v5 flagship's packed output, built once per dir and persisted
    * (fit-once/gate-twice convention — q_llm_pipeline_v5 orders it,
    * q_llm_pipeline_v6 aggregates it into shard manifests; without the
    * memo v6 would re-run the entire five-stage pipeline). Cleared by
    * Memos.clearAll between Bench passes.
    */
  /** Neyman allocation fit once per dir and persisted: the allocation
    * gate orders it, the sample gate joins against it (and collects
    * its max to size the top-k heap) — both plans deterministically
    * read the cached |strata|-row frame instead of racing one gate's
    * eager persist against the other's plan build.
    */
  private val neymanMemo =
    graft.core.Memos.register(new graft.core.Memos.CachedFrameMap())
  private def neymanAllocMemo(s: SparkSession, dir: String): DataFrame =
    neymanMemo.computeIfAbsent(dir, d => {
      val a = Splits.neymanAllocation(Tables.documents(s, d), "source",
          "n_chars", k = 200)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      a.count() // materialize so both gate plans see the cache
      a
    })

  /** Per-dir DSIR importance weights (n_grams, logw per doc) — the
    * identical ratios+weights computation fed q_dsir_weights,
    * q_dsir_sample AND the v5 pipeline's selection stage; fit-once
    * memo (r14 optimization, the neymanAllocMemo convention). */
  private val dsirMemo =
    graft.core.Memos.register(new graft.core.Memos.CachedFrameMap())
  private def dsirWeightsMemo(s: SparkSession, dir: String): DataFrame =
    dsirMemo.computeIfAbsent(dir, _ => {
      val docs = Tables.documents(s, dir)
      val ratios = Dsir.bucketLogRatios(
        docs.filter(col("lang") === "en"), docs, "text")
      val w = Dsir.importanceWeights(docs, "text", "doc_id", ratios)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      w.count()
      w
    })

  private val v5Memo =
    graft.core.Memos.register(new graft.core.Memos.CachedFrameMap())
  private def v5Packed(s: SparkSession, dir: String): DataFrame =
    v5Memo.computeIfAbsent(dir, _ => {
      val t = col("text")
      val (wts, b) = QualityClassifier.trained(s, dir)
      val margin = QualityClassifier.marginExpr(t, wts, b)
      val scored = graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"), t, col("source"),
        (lit(1.0) / (lit(1.0) + exp(margin * lit(-1.0)))).as("p_quality"),
        margin.as("qmargin"),
        TextStats.languageId(t).as("lang"),
        TextStats.fingerprint(t).as("fp"),
        TextStats.dupNgramCharFrac(t, 2).as("dup2"),
        TextStats.tokenCount(t).as("n_tokens"),
        length(t).as("n_chars"))
        .filter(col("qmargin") > 0 && col("dup2") <= 0.15)
      val eval3 = Tables.documents(s, dir).filter(col("doc_id") < 3)
      val clean = Dedup.decontaminate(scored, "text", "doc_id", eval3, "text", n = 3)
      val deduped = clean.groupBy(col("fp"))
        .agg(min_by(struct(col("doc_id"), col("source"), col("lang"),
          col("p_quality"), col("n_tokens"), col("n_chars")), col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.lang").as("lang"), col("r.p_quality").as("p_quality"),
          col("r.n_tokens").as("n_tokens"), col("r.n_chars").as("n_chars"))
      val lowDup = Dedup.exactSubstrStats(Tables.documents(s, dir),
          "text", "doc_id")
        .filter(col("dup_frac") <= 0.5).select("doc_id")
      val substrFiltered = deduped.join(lowDup, Seq("doc_id"), "left_semi")
      val nll = NgramLm.perplexityScore(Tables.documents(s, dir), "text",
          "doc_id", col("lang") === "en")
        .select(col("doc_id"), col("nll"))
      val withNll = substrFiltered.join(broadcast(nll), Seq("doc_id"))
      // DSIR selection: corpus-wide weights, off-distribution tail out
      // (the SAME ratios+weights as the q_dsir_* gates — shared memo)
      val dweights = dsirWeightsMemo(s, dir)
        .select(col("doc_id"), col("logw"))
      val selected = withNll.join(broadcast(dweights), Seq("doc_id"))
        .filter(round(col("logw"), 6) > lit(-0.5))
      val rates = Splits.mixtureRates(selected, "lang", "n_chars",
        pipelineMixTargets, unitBudget = 30000)
      val sampled = Splits.mixtureSample(selected, "doc_id", "lang", rates,
        salt = "mix5")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      sampled
        .withColumn("__cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("__cum") - col("n_tokens")) / lit(512)).cast("int"))
        .select(col("doc_id"), col("source"), col("lang"),
          round(col("p_quality"), 6).as("p_quality"),
          round(col("nll"), 6).as("nll"),
          round(col("logw"), 6).as("logw"), col("n_tokens"),
          col("pack_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Shared BM25 term set and oracle CTE block (q_bm25, q_bm25_topk):
    * `bm(doc_id, lang, dl, bm25)` with the score already rounded to 6.
    */
  private val bm25Terms = Seq("spark", "table", "join", "data")
  private def bm25Ctes: String = {
    val tfs = bm25Terms.indices.map(i =>
      s"len(list_filter(t, x -> x = '${bm25Terms(i)}')) AS tf$i").mkString(", ")
    val dfs = bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = bm25Terms.indices.map { i =>
      s"""ln((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         |    / (CAST(df$i AS DOUBLE) + 0.5) + 1.0)
         |  * (CAST(tf$i AS DOUBLE) * CAST(2.2 AS DOUBLE))
         |  / (CAST(tf$i AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
         |        + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
         |          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))""".stripMargin
    }.mkString("\n + ")
    s"""d AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |s AS (SELECT doc_id, lang, len(t) AS dl, $tfs FROM d),
       |g AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl, $dfs
       |      FROM s),
       |bm AS (SELECT doc_id, lang, dl, round($score, 6) AS bm25
       |       FROM s CROSS JOIN g)""".stripMargin
  }

  /** The full MinHash-LSH mirror (k=8, rowsPerBand=2, 3-gram shingles,
    * md5-per-seed oracle family) ending in a `pairs(id_a, id_b, jac)`
    * CTE — shared by q_dedup_minhash and q_drop_near_dups.
    */
  /** DSIR retrain-in-SQL prefix ending at `w(doc_id, n_grams, logw)`:
    * hashed uni+bi-gram buckets (the house md5-15-hex trick mod 64),
    * add-one target/raw bucket models over the FULL 0..63 domain, and
    * per-doc logratio sums — the independent mirror of
    * [[Dsir.bucketLogRatios]] + [[Dsir.importanceWeights]].
    */
  /** @param p CTE-name prefix, so the block composes into larger
    *   oracles (flagship v5) without name collisions.
    */
  private def dsirWeightsCtes(p: String): String =
    s"""${p}dt AS (SELECT doc_id, lang, string_split(text, ' ') AS t
       |            FROM documents),
       |${p}g AS (SELECT doc_id, lang, unnest(list_concat(t,
       |        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
       |        AS g
       |      FROM ${p}dt),
       |${p}gb AS (SELECT doc_id, lang,
       |         ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS b
       |       FROM ${p}g),
       |${p}ct AS (SELECT b, count(*) AS c FROM ${p}gb WHERE lang = 'en'
       |        GROUP BY b),
       |${p}cr AS (SELECT b, count(*) AS c FROM ${p}gb GROUP BY b),
       |${p}tot AS (SELECT
       |   (SELECT CAST(count(*) AS BIGINT) FROM ${p}gb WHERE lang = 'en')
       |     AS nt,
       |   (SELECT CAST(count(*) AS BIGINT) FROM ${p}gb) AS nr),
       |${p}dom AS (SELECT unnest(generate_series(0, 63)) AS b),
       |${p}lr AS (SELECT ${p}dom.b,
       |         ln(CAST(coalesce(${p}ct.c, 0) + 1 AS DOUBLE)
       |            / CAST(nt + 64 AS DOUBLE))
       |       - ln(CAST(coalesce(${p}cr.c, 0) + 1 AS DOUBLE)
       |            / CAST(nr + 64 AS DOUBLE)) AS logratio
       |       FROM ${p}dom LEFT JOIN ${p}ct ON ${p}ct.b = ${p}dom.b
       |       LEFT JOIN ${p}cr ON ${p}cr.b = ${p}dom.b CROSS JOIN ${p}tot),
       |${p}w AS (SELECT doc_id, count(*) AS n_grams,
       |        sum(${p}lr.logratio) AS logw
       |      FROM ${p}gb JOIN ${p}lr ON ${p}lr.b = ${p}gb.b
       |      GROUP BY doc_id)""".stripMargin

  private val dsirWeightsSql: String = "WITH " + dsirWeightsCtes("")

  /** Per-language LM retrain-in-SQL ending at the grouped
    * `lmn(doc_id, lang, n_tokens, nll)` — shared by the perlang gate
    * and the CCNet tercile-bucket gate.
    */
  private val perLangNllCtes: String =
    """dt AS (SELECT doc_id, lang, string_split(text, ' ') AS t
      |            FROM documents),
      |rtok AS (SELECT lang, unnest(t) AS w FROM dt),
      |uni AS (SELECT lang, w, count(*) AS cw FROM rtok GROUP BY lang, w),
      |rbig AS (SELECT lang, unnest(list_transform(range(1, len(t)),
      |           i -> t[i] || ' ' || t[i+1])) AS bg
      |         FROM dt WHERE len(t) >= 2),
      |bi AS (SELECT lang, bg, count(*) AS cb FROM rbig GROUP BY lang, bg),
      |tot AS (SELECT lang, CAST(sum(cw) AS BIGINT) AS n_ref,
      |               count(*) AS v_size FROM uni GROUP BY lang),
      |posi AS (SELECT doc_id, lang, unnest(range(1, len(t) + 1)) AS i, t
      |         FROM dt),
      |pw AS (SELECT doc_id, lang, t[i] AS w,
      |        CASE WHEN i > 1 THEN t[i-1] END AS prev FROM posi),
      |j AS (SELECT pw.doc_id, pw.lang, pw.w, pw.prev, uni.cw,
      |        up.cw AS cprev, bi.cb, tot.n_ref, tot.v_size
      |      FROM pw
      |      LEFT JOIN uni ON uni.lang = pw.lang AND uni.w = pw.w
      |      LEFT JOIN uni up ON up.lang = pw.lang AND up.w = pw.prev
      |      LEFT JOIN bi ON bi.lang = pw.lang
      |        AND bi.bg = pw.prev || ' ' || pw.w
      |      JOIN tot ON tot.lang = pw.lang),
      |sc AS (SELECT doc_id, lang,
      |        CASE WHEN prev IS NULL
      |         THEN CAST(coalesce(cw, 0) + 1 AS DOUBLE)
      |              / CAST(n_ref + v_size AS DOUBLE)
      |         ELSE 0.9 * (CASE WHEN cprev IS NOT NULL
      |                 THEN CAST(coalesce(cb, 0) AS DOUBLE)
      |                      / CAST(cprev AS DOUBLE)
      |                 ELSE 0.0 END)
      |            + 0.1 * (CAST(coalesce(cw, 0) + 1 AS DOUBLE)
      |                     / CAST(n_ref + v_size AS DOUBLE))
      |        END AS p
      |       FROM j),
      |lmn AS (SELECT doc_id, lang, count(*) AS n_tokens,
      |         round(-avg(ln(p)), 6) AS nll
      |        FROM sc GROUP BY doc_id, lang)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_text_stats" -> ((s, dir) => {
      val t = col("text")
      graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"),
        TextStats.tokenCount(t).as("n_tokens"),
        round(TextStats.avgTokenLen(t), 6).as("avg_token_len"),
        round(TextStats.stopwordRatio(t, TextStats.defaultStopwords), 6)
          .as("stopword_ratio"),
        round(TextStats.uniqueTokenRatio(t), 6).as("unique_ratio"))
        .orderBy("doc_id")
    }),

    // Unicode normalization preset: combining marks + control chars +
    // whitespace runs injected in-plan (the parquet corpus is ASCII);
    // NFC recomposition runs in the native codegen expression, matched
    // against DuckDB's nfc_normalize. Lengths are codepoint counts on
    // both engines, so n_raw > n_norm pins real recomposition.
    "q_text_normalize" -> ((s, dir) => {
      val synth = concat(
        lit("\u0001\u0002  intro\u000B\t"),
        regexp_replace(col("text"), "e", "e\u0301"),
        lit("\t trailing   run "))
      Tables.documents(s, dir)
        .select(col("doc_id"), synth.as("text"))
        .select(col("doc_id"),
          length(col("text")).as("n_raw"),
          TextStats.normalizeText(col("text")).as("normalized"))
        .withColumn("n_norm", length(col("normalized")))
        .orderBy("doc_id")
    }),

    "q_lang_id" -> ((s, dir) => {
      val t = col("text")
      graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"),
        TextStats.languageScore(t, TextStats.defaultMarkers("en")).as("s_en"),
        TextStats.languageScore(t, TextStats.defaultMarkers("fr")).as("s_fr"),
        TextStats.languageId(t).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // quality-signal block: BPE-ish subword count, punctuation ratio,
    // composite Gopher/C4-style quality score — all scan-fused exprs.
    "q_text_quality" -> ((s, dir) => {
      val t = col("text")
      graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"),
        TextStats.bpeTokenCount(t).as("n_bpe_tokens"),
        round(TextStats.punctRatio(t), 6).as("punct_ratio"),
        round(TextStats.qualityScore(t), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // Gopher repetition filters (Rae et al. 2021 Table A1): most-common
    // 2-gram / duplicated-5-gram character fractions, duplicate-"line"
    // stats (the corpus has no newlines, so the gate splits lines on
    // the literal token "slow" — same kernel, non-degenerate values).
    // One native one-pass RepetitionStats kernel per (n, sep) shared
    // across the projected columns — scan-fused, shuffle-free.
    "q_repetition" -> ((s, dir) => {
      val t = col("text")
      graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"),
        round(TextStats.topNgramCharFrac(t, 2), 6).as("top2_char_frac"),
        round(TextStats.dupNgramCharFrac(t, 5), 6).as("dup5_char_frac"),
        round(TextStats.dupLineFrac(t, "slow"), 6).as("dup_line_frac"),
        round(TextStats.dupLineCharFrac(t, "slow"), 6).as("dup_line_char_frac"))
        .orderBy("doc_id")
    }),

    "q_doc_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextStats.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // FLAGSHIP: the end-to-end training-data pipeline, every stage an
    // already-exactly-gated operator composed into ONE declarative plan —
    // scan-fused quality/language/fingerprint signals → quality+language
    // filter → exact fingerprint dedup (min-id representative) →
    // deterministic content-hash train/holdout split → context-window
    // chunk counts. What a user runs over 100 TB of raw documents; the
    // whole oracle is the composition of the per-stage SQL mirrors.
    // Plan shape (audited via Explain): ONE corpus scan — the signal
    // projection and quality/language filter fuse into it — then ONE
    // shuffle (the fingerprint-dedup aggregate; min_by carries the
    // representative row, so there is NO reps self-join), then map-only
    // split labeling + a closed-form chunk count (the chunkDocuments
    // start rule as an expression — no explode/re-aggregate join). The
    // naive semi-join + chunk-join form scanned the corpus four times.
    "q_llm_pipeline" -> ((s, dir) => {
      val t = col("text")
      val scored = graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"), t,
        TextStats.qualityScore(t).as("quality"),
        TextStats.languageId(t).as("lang"),
        TextStats.fingerprint(t).as("fp"))
      val filtered = scored.filter(col("quality") >= 0.5 && col("lang") === "en")
      val kept = filtered.groupBy("fp").agg(
        min("doc_id").as("doc_id"),
        min_by(struct(col("text"), col("lang"), col("quality")),
          col("doc_id")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          col("r.lang").as("lang"), col("r.quality").as("quality"))
      // same start rule as chunkDocuments(maxTokens=20, overlap=5):
      // a start opens a chunk iff it is 0 or leaves > overlap fresh
      // tokens. Token count is bound to a column first so the filter
      // lambda reads a row field, not a re-split per element.
      val kept2 = kept.withColumn("__n",
        size(TextStats.tokens(col("text"))))
      val n = col("__n")
      val nChunks = size(filter(
        sequence(lit(0), greatest(n - 1, lit(0)), lit(15)),
        x => x === 0 || x < n - 5))
      kept2.select(col("doc_id"), col("lang"),
        round(col("quality"), 6).as("quality"),
        graft.modelselection.Splits.hashSplitLabel(col("doc_id"), 0.9).as("split"),
        nChunks.cast("long").as("n_chunks"))
        .orderBy("doc_id")
    }),

    // Context-window chunking (training-context packing): overlapping
    // maxTokens windows, step maxTokens−overlap; fully SQL-mirrorable
    // (same start rule, same clamped slices, chunk md5s).
    "q_doc_chunks" -> ((s, dir) => {
      TextStats.chunkDocuments(Tables.documents(s, dir), "text", "doc_id",
        maxTokens = 20, overlap = 5)
        .orderBy("doc_id", "chunk_id")
    }),

    // Vocabulary cardinality: HLL++ estimate (the 100 TB path — fixed
    // sketch per partition vs a full distinct shuffle) cross-checked
    // against the exact distinct count, which DuckDB recomputes; the
    // estimate must land within 3×rsd (deterministic: HLL++ has no RNG).
    "q_vocab_size" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TextStats.tokens(col("text"))).as("token"))
      val row = toks.agg(
        countDistinct(col("token")),
        approx_count_distinct(col("token"), 0.05)).head()
      val exact = row.getLong(0); val approx = row.getLong(1)
      import s.implicits._
      Seq((exact, math.abs(approx - exact).toDouble <= 0.15 * exact))
        .toDF("exact_vocab", "approx_within_3rsd")
    }),

    // Misra–Gries heavy hitters: every token with exact count >
    // n/(k+1) must be in the MG summary with its lower-bound count
    // within n/(k+1) of exact — the mergeable-summaries guarantee,
    // invariant to partitioning/merge order. The exact side is a plain
    // groupBy both engines compute; found/bound_ok pin the MG output.
    "q_heavy_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val k = 40
      val mg = TextStats.heavyTokens(docs, "text", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ k rows
      val toks = docs.select(explode(TextStats.tokens(col("text"))).as("token"))
      val n = toks.count()
      val thresh = n.toDouble / (k + 1)
      val exact = toks.groupBy("token").agg(count(lit(1)).as("c"))
        .filter(col("c") > thresh)
        .collect().map(r => (r.getString(0), r.getLong(1))) // ≤ k+1 rows
      import s.implicits._
      exact.toSeq.map { case (t, c) =>
        val lb = mg.getOrElse(t, -1L)
        (t, c, lb >= 0, lb >= 0 && lb <= c && (c - lb) <= thresh)
      }.toDF("token", "exact_count", "found", "bound_ok").orderBy("token")
    }),

    // CCNet-style LM quality scoring: interpolated-bigram model trained
    // on the English slice, every doc scored by NLL-per-token. The
    // count→probability arithmetic is rational (bit-exact cross-engine);
    // only ln/avg accumulation needs the round(6).
    "q_lm_perplexity" -> ((s, dir) =>
      NgramLm.perplexityScore(Tables.documents(s, dir), "text", "doc_id",
          col("lang") === "en")
        .select(col("doc_id"), col("n_tokens"),
          round(col("nll"), 6).as("nll"))
        .orderBy("doc_id")),

    // Kneser-Ney smoothing (what KenLM actually runs): absolute
    // discount + continuation-unigram backoff, every model table
    // derived from one persisted bigram count frame. Integer counts →
    // identical doubles in both engines.
    "q_lm_kneser_ney" -> ((s, dir) =>
      NgramLm.kneserNeyScore(Tables.documents(s, dir), "text", "doc_id",
          col("lang") === "en")
        .select(col("doc_id"), col("n_tokens"),
          round(col("nll"), 6).as("nll"))
        .orderBy("doc_id")),

    // CCNet deployment shape: ONE model per language in a single pass,
    // every doc scored against its own language's model.
    "q_lm_perplexity_perlang" -> ((s, dir) =>
      NgramLm.perplexityScoreByKey(Tables.documents(s, dir), "text",
          "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("nll"), 6).as("nll"))
        .orderBy("doc_id")),

    // CCNet head/middle/tail split: per-language perplexity terciles as
    // two exact percentiles broadcast back — the corpus is never
    // sorted. Gates the scoring + cutoff + boundary-compare chain.
    "q_ccnet_buckets" -> ((s, dir) =>
      NgramLm.perplexityBuckets(Tables.documents(s, dir), "text",
          "doc_id", "lang")
        .orderBy("doc_id")),

    // Winnowing fingerprints (Schleimer SIGMOD'03 / MOSS): rolling
    // min-hash selection with the rightmost-tie rule — guaranteed
    // detection of shared substrings ≥ w+k−1 at density 2/(w+1). The
    // md5-60-bit hash and the window selection replay exactly in SQL
    // list arithmetic.
    "q_winnowing" -> ((s, dir) =>
      TextStats.winnowingFingerprints(Tables.documents(s, dir), "text",
          "doc_id", k = 12, w = 8)
        .orderBy("doc_id", "pos")),

    // PMI collocations (Church & Hanks 1990): adjacent-pair pointwise
    // mutual information over the whole corpus, top-k on the rounded
    // score. Counts are integers, the ratio arithmetic is replicated
    // operand-for-operand in SQL.
    "q_token_pmi" -> ((s, dir) =>
      TextStats.pmiCollocations(Tables.documents(s, dir), "text",
        k = 50, minCount = 5)),

    // Skip-gram training pairs (llmdata/SkipGram.scala — word2vec
    // examples): window-2 positives scan-fused per document, 1
    // md5-drawn negative per positive from the count^0.75 noise
    // distribution through the bucketed cumulative-weight equi-join.
    // The doc_id < 40 slice keeps the gate output bounded (~12k rows);
    // the noise table is still fit on the FULL corpus, so the gate
    // exercises the real vocab-interval lookup. Oracle replays the
    // window arithmetic, the smoothed weights, and every draw.
    "q_skipgram_pairs" -> ((s, dir) =>
      SkipGram.trainingPairs(
          Tables.documents(s, dir), "text", "doc_id",
          window = 2, negatives = 1)
        .filter(col("doc") < 40)
        .orderBy("doc", "pos", "label", "context", "center")),

    // GloVe distance-weighted co-occurrence (SkipGram.
    // cooccurrenceCounts): X = sum(1/d) over window-2 co-occurrences —
    // dyadic weights (1, 0.5) so the sums are float-exact; one
    // (center, context) rollup, vocab-pair-bounded output, minX=1.5
    // keeps the gate at the non-hapax pairs.
    "q_glove_cooc" -> ((s, dir) =>
      SkipGram.cooccurrenceCounts(Tables.documents(s, dir), "text",
          "doc_id", window = 2, minX = 1.5)
        .orderBy("center", "context")),

    // GloVe ALS embedding fit (Glove.fit) on the q_glove_cooc frame:
    // rank 2, 2 alternations of ridge half-steps (one groupBy of the
    // weighted normal equations vs the broadcast opposite factors per
    // half-step, per-token CholeskySolve), h60-hash init, round-6
    // trajectory handoffs — the quantized-trajectory convention,
    // replayed by chained CTEs.
    // Closes graph→walks→pairs→cooc→VECTORS in-engine.
    "q_glove_fit" -> ((s, dir) =>
      Glove.fit(SkipGram.cooccurrenceCounts(Tables.documents(s, dir),
          "text", "doc_id", window = 2, minX = 1.5), d = 2)
        .orderBy("role", "token")),

    // The same GloVe ALS fit at rank d = 8: identical normal-equation
    // aggregation shape (d(d+1)/2 + d map-side-combined sums per
    // half-step vs the broadcast opposite factors). Round-6 trajectory
    // handoffs → EXACT oracle via CholeskySql's nested op-exact d×d
    // factorization mirror.
    "q_glove_fit_d8" -> ((s, dir) =>
      Glove.fit(SkipGram.cooccurrenceCounts(Tables.documents(s, dir),
          "text", "doc_id", window = 2, minX = 1.5), d = 8)
        .orderBy("role", "token")),

    // …and VECTORS→ANN: the fitted center factors feed the existing
    // exact kNN-graph operator (Ann.knnGraph, k=3 over the 2-d learned
    // embeddings) — the full loop proven in ONE plan, with the oracle
    // chaining the fit CTEs into the brute-force cosine ranking.
    "q_glove_knn" -> ((s, dir) => {
      val cen = Glove.fit(SkipGram.cooccurrenceCounts(
          Tables.documents(s, dir), "text", "doc_id",
          window = 2, minX = 1.5), d = 2)
        .where(col("role") === "center")
        .select(col("token"), array(col("f1"), col("f2")).as("vec"))
      Ann.knnGraph(cen, "token", "vec", k = 3)
        .orderBy("src", "rank")
    }),

    // Two-sample chi-square drift: char-length-bucket distribution of
    // sources src0-src4 vs the rest — per-bucket observed/expected/
    // contribution rows, integer counts collected bounded.
    "q_corpus_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val probe = Seq("src0", "src1", "src2", "src3", "src4")
      TextStats.distributionDrift(
        docs.filter(col("source").isin(probe: _*)),
        docs.filter(!col("source").isin(probe: _*)),
        floor(length(col("text")) / 100))
        .orderBy("bucket")
    }),

    // distinct-n diversity (Li 1510.03055): per-doc distinct/total
    // n-gram ratios for n=1,2,3, scan-fused (zip_with shifted slices,
    // array bound once) — the generation-diversity / templated-text
    // signal beside the Gopher duplicated-n-gram CHARACTER fractions.
    "q_distinct_ngrams" -> ((s, dir) =>
      graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(col("doc_id"),
        round(TextStats.distinctNgramRatio(col("text"), 1), 6).as("d1"),
        round(TextStats.distinctNgramRatio(col("text"), 2), 6).as("d2"),
        round(TextStats.distinctNgramRatio(col("text"), 3), 6).as("d3"))
        .orderBy("doc_id")),

    // KS statistic over the same contingency: where the two slices'
    // CDFs diverge most (the drift family's sup-norm scalar).
    // Population Stability Index over the same probe/rest length
    // contingency as q_corpus_drift — the scorecard drift scalar
    // (per-bucket term table; Laplace +0.5-smoothed shares).
    "q_psi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val probe = Seq("src0", "src1", "src2", "src3", "src4")
      TextStats.psi(
        docs.filter(col("source").isin(probe: _*)),
        docs.filter(!col("source").isin(probe: _*)),
        floor(length(col("text")) / 100))
        .orderBy("bucket")
    }),

    "q_ks_statistic" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val probe = Seq("src0", "src1", "src2", "src3", "src4")
      TextStats.ksStatistic(
        docs.filter(col("source").isin(probe: _*)),
        docs.filter(!col("source").isin(probe: _*)),
        floor(length(col("text")) / 100))
    }),

    // JS divergence over the same contingency: magnitude of the drift
    // on the bounded [0, ln 2] scale (per-bucket contributions so the
    // compare never sums engine-side in unspecified order).
    "q_js_divergence" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val probe = Seq("src0", "src1", "src2", "src3", "src4")
      TextStats.jsDivergence(
        docs.filter(col("source").isin(probe: _*)),
        docs.filter(!col("source").isin(probe: _*)),
        floor(length(col("text")) / 100))
        .orderBy("bucket")
    }),

    // DSIR importance weights (Xie 2302.03169): hashed uni+bi-gram
    // bucket models for the trusted (en) slice vs the raw corpus;
    // per-doc logw via a B-row broadcast join on the gram stream.
    "q_dsir_weights" -> ((s, dir) =>
      dsirWeightsMemo(s, dir)
        .select(col("doc_id"), col("n_grams"),
          round(col("logw"), 6).as("logw"))
        .orderBy("doc_id")),

    // DSIR Gumbel top-k resample: without-replacement selection ∝ the
    // importance weights, perturbation drawn from 52 md5 bits so both
    // engines rank the identical keys.
    "q_dsir_sample" -> ((s, dir) =>
      Dsir.resample(dsirWeightsMemo(s, dir), "doc_id", 100)
        .orderBy("doc_id")),

    // Trained quality classifier (fastText-style hashed-n-gram logistic,
    // Joulin 1607.01759): trained in-repo by the existing GLM surface on
    // weak labels from the engine's own repetition/uniqueness signals,
    // applied as the scan-fused HashedLinearScore margin with the
    // learned weights in-plan. EXACT oracle — weights embed as VALUES
    // and the margin sum replays per token (trainedQualityOracle).
    "q_quality_classifier" -> ((s, dir) => {
      val (w, b) = QualityClassifier.trained(s, dir)
      val m = QualityClassifier.marginExpr(col("text"), w, b)
      graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(m * lit(-1.0))), 6).as("p_quality"),
        (m > 0).cast("int").as("pred"))
        .orderBy("doc_id")
    }),

    // Trained multiclass langid (fastText-langid shape): K one-vs-rest
    // hashed-linear margins fused into the scan, argmax on rounded
    // margins with class-asc tie break. EXACT oracle — all K weight
    // vectors embed as VALUES (trainedLangIdOracle).
    "q_langid_trained" -> ((s, dir) => {
      val models = LangIdClassifier.trained(s, dir)
      graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(col("doc_id"), col("lang"),
        LangIdClassifier.predictExpr(col("text"), models).as("pred_lang"))
        .withColumn("correct", (col("lang") === col("pred_lang")).cast("int"))
        .orderBy("doc_id")
    }),

    // FLAGSHIP v3: the round-7 production pipeline — v2 with the
    // hand-weighted quality composite replaced by the TRAINED
    // classifier (margin > 0 keeps predicted-quality docs; repetition
    // filter stays): classifier filter → benchmark decontamination →
    // fingerprint dedup → mixture sampling → per-shard packing. Same
    // plan shape as v2 (the margin fuses into the corpus scan).
    "q_llm_pipeline_v3" -> ((s, dir) => {
      val t = col("text")
      val (wts, b) = QualityClassifier.trained(s, dir)
      val margin = QualityClassifier.marginExpr(t, wts, b)
      val scored = graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"), t, col("source"),
        (lit(1.0) / (lit(1.0) + exp(margin * lit(-1.0)))).as("p_quality"),
        margin.as("qmargin"),
        TextStats.languageId(t).as("lang"),
        TextStats.fingerprint(t).as("fp"),
        TextStats.dupNgramCharFrac(t, 2).as("dup2"),
        TextStats.tokenCount(t).as("n_tokens"),
        length(t).as("n_chars"))
        .filter(col("qmargin") > 0 && col("dup2") <= 0.15)
      val eval3 = Tables.documents(s, dir).filter(col("doc_id") < 3)
      val clean = Dedup.decontaminate(scored, "text", "doc_id", eval3, "text", n = 3)
      val deduped = clean.groupBy(col("fp"))
        .agg(min_by(struct(col("doc_id"), col("source"), col("lang"),
          col("p_quality"), col("n_tokens"), col("n_chars")), col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.lang").as("lang"), col("r.p_quality").as("p_quality"),
          col("r.n_tokens").as("n_tokens"), col("r.n_chars").as("n_chars"))
      val rates = Splits.mixtureRates(deduped, "lang", "n_chars",
        pipelineMixTargets, unitBudget = 30000)
      val sampled = Splits.mixtureSample(deduped, "doc_id", "lang", rates,
        salt = "mix2")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      sampled
        .withColumn("__cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("__cum") - col("n_tokens")) / lit(512)).cast("int"))
        .select(col("doc_id"), col("source"), col("lang"),
          round(col("p_quality"), 6).as("p_quality"), col("n_tokens"),
          col("pack_id"))
        .orderBy("doc_id")
    }),

    // FLAGSHIP v4 = v3 with two round-7 stages composed in: after the
    // fingerprint dedup, (a) an exact-substring duplication filter drops
    // docs whose corpus-wide duplicated-span fraction exceeds 0.5 —
    // near-clones that SURVIVE fingerprint dedup because they are not
    // byte-identical (14 of v3's 69 sf0.01 survivors!) — and (b) every
    // surviving doc carries its CCNet LM-perplexity score. Mixture
    // rates re-derive from the cleaner pool; packing unchanged.
    "q_llm_pipeline_v4" -> ((s, dir) => {
      val t = col("text")
      val (wts, b) = QualityClassifier.trained(s, dir)
      val margin = QualityClassifier.marginExpr(t, wts, b)
      val scored = graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"), t, col("source"),
        (lit(1.0) / (lit(1.0) + exp(margin * lit(-1.0)))).as("p_quality"),
        margin.as("qmargin"),
        TextStats.languageId(t).as("lang"),
        TextStats.fingerprint(t).as("fp"),
        TextStats.dupNgramCharFrac(t, 2).as("dup2"),
        TextStats.tokenCount(t).as("n_tokens"),
        length(t).as("n_chars"))
        .filter(col("qmargin") > 0 && col("dup2") <= 0.15)
      val eval3 = Tables.documents(s, dir).filter(col("doc_id") < 3)
      val clean = Dedup.decontaminate(scored, "text", "doc_id", eval3, "text", n = 3)
      val deduped = clean.groupBy(col("fp"))
        .agg(min_by(struct(col("doc_id"), col("source"), col("lang"),
          col("p_quality"), col("n_tokens"), col("n_chars")), col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.lang").as("lang"), col("r.p_quality").as("p_quality"),
          col("r.n_tokens").as("n_tokens"), col("r.n_chars").as("n_chars"))
      // (a) exact-substring duplication filter (corpus-wide stats)
      val lowDup = Dedup.exactSubstrStats(Tables.documents(s, dir),
          "text", "doc_id")
        .filter(col("dup_frac") <= 0.5).select("doc_id")
      val substrFiltered = deduped.join(lowDup, Seq("doc_id"), "left_semi")
      // (b) LM quality score carried through (en-trained bigram model)
      val nll = NgramLm.perplexityScore(Tables.documents(s, dir), "text",
          "doc_id", col("lang") === "en")
        .select(col("doc_id"), col("nll"))
      val withNll = substrFiltered.join(broadcast(nll), Seq("doc_id"))
      val rates = Splits.mixtureRates(withNll, "lang", "n_chars",
        pipelineMixTargets, unitBudget = 30000)
      val sampled = Splits.mixtureSample(withNll, "doc_id", "lang", rates,
        salt = "mix4")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      sampled
        .withColumn("__cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("__cum") - col("n_tokens")) / lit(512)).cast("int"))
        .select(col("doc_id"), col("source"), col("lang"),
          round(col("p_quality"), 6).as("p_quality"),
          round(col("nll"), 6).as("nll"), col("n_tokens"),
          col("pack_id"))
        .orderBy("doc_id")
    }),

    // FLAGSHIP v5 = v4 + a DSIR selection stage (Xie 2302.03169)
    // between the LM annotation and the mixture: corpus-wide hashed
    // n-gram importance weights against the trusted (en) slice, docs in
    // the off-distribution tail (rounded logw ≤ −0.5) dropped — 390 of
    // 500 sf0.01 docs survive, a genuine cut in EVERY language — and
    // the mixture re-derives its rates from the cleaner pool. The DSIR
    // pass adds one B-row broadcast join + one groupBy(doc) to the
    // plan; every other stage keeps its v4 shape.
    "q_llm_pipeline_v5" -> ((s, dir) => v5Packed(s, dir).orderBy("doc_id")),

    // FLAGSHIP v6 (SparkEntry.entry): v5's packed corpus reduced to the
    // WRITE-READY artifact — per-(source, pack) shard manifests with
    // doc counts, token sums, and the order-independent bit_xor id-hash
    // checksum (Contrastive.shardManifest's audit convention). The
    // pipeline now ends exactly where a 100 TB run ends: sequences
    // packed, manifests emitted for the consumer to audit without
    // re-reading data. One extra ≤|packs|-key aggregate over v5.
    "q_llm_pipeline_v6" -> ((s, dir) =>
      v5Packed(s, dir)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("pack_tokens"),
          expr("bit_xor(cast(conv(substring(md5(concat('v6', " +
            "cast(doc_id as string))), 1, 15), 16, 10) as bigint))")
            .as("checksum"))
        .orderBy("source", "pack_id")),

    // FLAGSHIP v7: the manifests→trainer HANDOFF — v5's packed corpus
    // mapped through the deterministic epoch shuffle (Feistel
    // bijection, Splits.epochShuffle): every surviving doc gets its
    // (epoch, train_shard, pos) for 2 epochs × 4 trainer shards as a
    // pure scan-fused projection over the memoized packed frame. The
    // pipeline now ends where training BEGINS: shuffled, sharded,
    // reproducible-from-salt read order, zero extra shuffles.
    "q_llm_pipeline_v7" -> ((s, dir) =>
      Splits.epochShuffle(
        v5Packed(s, dir).select(col("doc_id"), col("source"),
          col("pack_id")),
        "doc_id", epochs = 2, nShards = 4, salt = "v7")
        .select(col("doc_id"), col("source"), col("pack_id"),
          col("epoch"), col("shard"), col("pos"))
        .orderBy("epoch", "shard", "pos")),

    // FLAGSHIP v8: the LAYOUT-AWARE LAST MILE — v5's packed corpus
    // written to disk Z-ORDERED: each row gets its fixed-width Morton
    // CELL over (doc_id, n_tokens) (Layout.zBucketed — quad-tree
    // cells, deterministic, no sampled split points) and the shard
    // sink writes one directory per cell (Sinks.writeShards: one
    // writer per shard, STATIC overwrite, readback-audited manifest).
    // Every output directory then carries a bounded box in BOTH
    // dimensions, so a trainer reading "docs in this id range with
    // token counts in that band" prunes whole directories before
    // parquet footers are consulted — ZOrderWriteSpec measures the
    // actual rows-read win on the written files. The gate's result is
    // the READBACK manifest, so a dropped/duplicated/corrupted row
    // flips its cell's checksum vs the oracle computed on the input
    // side. v7 (the epoch-shuffle handoff) stays gated alongside.
    "q_llm_pipeline_v8" -> ((s, dir) => {
      val out = "/tmp/graft_zsink/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      val bucketed = graft.relational.Layout.zBucketed(
        v5Packed(s, dir).select(col("doc_id"), col("n_tokens")),
        Seq("doc_id", "n_tokens"), bits = 16, bucketBits = 4)
      graft.sources.Sinks.writeShards(bucketed, out,
          shardCol = "zbucket", idCol = "doc_id", sizeCol = "n_tokens",
          maxRecordsPerFile = 200)
        .orderBy("zbucket")
    }),

    // FLAGSHIP v2: the round-6 production pipeline — Gopher repetition
    // + quality filter (scan-fused signals) → benchmark decontamination
    // (broadcast 3-gram semi-join vs the doc 0-2 "eval set") → exact
    // fingerprint dedup (min_by representative, no self-join) → domain-
    // mixture sampling against a 30k-char budget (closed-form rates,
    // broadcast back, map-only bucket filter). Every stage is an
    // already-exactly-gated operator; the oracle is the composition of
    // their SQL mirrors. Plan shape: the signal projection fuses into
    // the corpus scan; decontamination adds the one extra corpus-side
    // shingle pass it inherently needs; dedup is ONE shuffle; the
    // rates aggregation shuffles ≤ |langs| keys.
    "q_llm_pipeline_v2" -> ((s, dir) => {
      val t = col("text")
      val scored = graft.core.FanOut.byKey(Tables.documents(s, dir), "doc_id").select(
        col("doc_id"), t, col("source"),
        TextStats.qualityScore(t).as("quality"),
        TextStats.languageId(t).as("lang"),
        TextStats.fingerprint(t).as("fp"),
        TextStats.dupNgramCharFrac(t, 2).as("dup2"),
        TextStats.tokenCount(t).as("n_tokens"),
        length(t).as("n_chars"))
        .filter(col("quality") >= 0.5 && col("dup2") <= 0.15)
      val eval_ = Tables.documents(s, dir).filter(col("doc_id") < 3)
      val clean = Dedup.decontaminate(scored, "text", "doc_id", eval_, "text", n = 3)
      val deduped = clean.groupBy(col("fp"))
        .agg(min_by(struct(col("doc_id"), col("source"), col("lang"),
          col("quality"), col("n_tokens"), col("n_chars")), col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.lang").as("lang"), col("r.quality").as("quality"),
          col("r.n_tokens").as("n_tokens"), col("r.n_chars").as("n_chars"))
      val rates = Splits.mixtureRates(deduped, "lang", "n_chars",
        pipelineMixTargets, unitBudget = 30000)
      val sampled = Splits.mixtureSample(deduped, "doc_id", "lang", rates,
        salt = "mix2")
      // final stage: greedy per-shard packing of the SAMPLED docs into
      // 512-token training sequences (the q_sequence_packing window)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      sampled
        .withColumn("__cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("__cum") - col("n_tokens")) / lit(512)).cast("int"))
        .select(col("doc_id"), col("source"), col("lang"),
          round(col("quality"), 6).as("quality"), col("n_tokens"),
          col("pack_id"))
        .orderBy("doc_id")
    }),

    // URL canonicalization: synthesized mixed-case URLs with query +
    // fragment + trailing slash noise (same construction in the
    // oracle); exact string compare of canonical form and host, plus
    // the non-URL empty-string path on raw text.
    "q_url_canonical" -> ((s, dir) => {
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Org/Path/"), col("doc_id").cast("string"),
        lit("/?utm_source=x&y=1#frag"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.canonicalizeUrl(url).as("canonical"),
        TextStats.urlHost(url).as("host"),
        TextStats.canonicalizeUrl(col("text")).as("not_a_url"))
        .orderBy("doc_id")
    }),

    // URL dedup (RefinedWeb: one page per canonical URL, keep the
    // best-quality capture): scheme/host case noise + trailing slash
    // collapse under canonicalization, so each residue group of 40
    // shares a canonical key; keepBestByKey elects (max n_chars, min
    // doc_id) in one partial-aggregated shuffle.
    "q_url_dedup" -> ((s, dir) => {
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTP://WWW.Example.COM/r"))
          .when(col("doc_id") % 3 === 1, lit("http://www.example.com/r"))
          .otherwise(lit("Http://www.EXAMPLE.com/r")),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")))
      val withUrl = Tables.documents(s, dir)
        .withColumn("canonical", TextStats.canonicalizeUrl(url))
      Dedup.keepBestByKey(withUrl, "canonical", "n_chars", "doc_id")
        .select(col("canonical"), col("doc_id"), col("n_chars"))
        .orderBy("canonical")
    }),

    // PII scrub: the corpus has no organic PII, so the gate SYNTHESIZES
    // an email/URL/IP from table values in-plan (same construction in
    // the oracle) and scrubs the composite — exercising every pattern
    // on every row with an exact string compare.
    "q_pii_scrub" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.scrubPii(concat_ws(" ",
          concat(col("source"), lit("@"), col("lang"), lit(".com")),
          concat(lit("https://"), col("source"), lit(".org/x")),
          concat(lit("10.0."), (col("doc_id") % 256).cast("string"), lit(".1")),
          substring(col("text"), 1, 40))).as("scrubbed"))
        .orderBy("doc_id")),

    // RefinedWeb/CCNet line-level cleaning on in-plan-synthesized
    // multi-line docs (the corpus is single-line): good line + SHOUTED
    // clone + numeric line + duplicate + too-short + second good line.
    // Every rule fires somewhere; the oracle mirrors rule-by-rule.
    "q_line_clean" -> ((s, dir) => {
      val t = split(col("text"), " ")
      val base = array_join(slice(t, 1, 8), " ")
      val multi = concat_ws("\n",
        base,
        upper(base),
        concat_ws(" ", col("doc_id").cast("string"),
          col("doc_id").cast("string"), col("doc_id").cast("string")),
        base,
        lit("short"),
        array_join(slice(t, 9, 8), " "))
      TextStats.cleanLines(
          Tables.documents(s, dir).select(col("doc_id"), multi.as("text")),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Corpus snapshot diff: v2 synthesized from v1 in-plan — %7 docs
    // dropped (removed), %11 texts appended-to (changed; %7 overlap
    // resolves to removed), %13 docs re-added under id+10000 (added),
    // rest unchanged. Fingerprint-compare, full outer join on id.
    "q_corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val did = col("doc_id")
      val v2 = docs.filter(did % 7 =!= 0)
        .select(did, when(did % 11 === 0,
          concat(col("text"), lit(" updated"))).otherwise(col("text")).as("text"))
        .union(docs.filter(did % 13 === 0)
          .select((did + 10000).as("doc_id"), col("text")))
      Dedup.corpusDiff(docs.select(did, col("text")), v2, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Token-distribution entropy: ln n − (Σ c·ln c)/n from one
    // (doc, token) count aggregate; normalized by the ln(n_distinct)
    // maximum. Same formula operand-for-operand in the oracle.
    "q_token_entropy" -> ((s, dir) =>
      TextStats.tokenEntropy(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // Zipf fit: ln(freq)~ln(rank) least squares over the top-100
    // tokens, ranked by the bounded heap (ties by token) — the
    // vocabulary is never sorted. Formula replicated operand-for-
    // operand; slope ≈ −1 on natural text.
    "q_zipf_fit" -> ((s, dir) =>
      TextStats.zipfFit(Tables.documents(s, dir), "text", topK = 100)
        .select(col("n_top"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))),

    // Cross-source contamination matrix: trigram Jaccard between every
    // source pair — per-group distinct shingle sets, one self equi-join
    // partial-aggregated on the pair key.
    "q_source_overlap" -> ((s, dir) =>
      TextStats.crossSourceOverlap(Tables.documents(s, dir), "text",
          "source", n = 3)
        .select(col("src_a"), col("src_b"), col("inter"), col("n_a"),
          col("n_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("src_a", "src_b")),

    // C4 preset (Raffel 1910.10683 §2.2): line rules (terminal punct,
    // min words, javascript) + page rules (lorem ipsum, brace,
    // blocklist token, min sentences) on in-plan synthesized multi-line
    // docs where every rule branch fires on a doc_id-residue subset.
    "q_c4_filter" -> ((s, dir) => {
      val t = split(col("text"), " ")
      val base = array_join(slice(t, 1, 6), " ")
      val did = col("doc_id")
      val multi = concat(
        concat_ws("\n",
          concat(base, lit(".")),
          base,
          lit("too short."),
          lit("please enable javascript to view this page."),
          concat(array_join(slice(t, 7, 6), " "),
            when(did % 3 =!= 0, lit("? Yes! Sure. Fine. Ok."))
              .otherwise(lit("?")))),
        when(did % 7 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(did % 11 === 0, lit("\nbrace { ahead in code.")).otherwise(lit("")),
        when(did % 13 === 0, lit("\nthis is verboten content here."))
          .otherwise(lit("")))
      TextStats.c4Filter(
          Tables.documents(s, dir).select(did, multi.as("text")),
          "text", "doc_id",
          badwords = Seq("verboten", "forbidden"))
        .orderBy("doc_id")
    }),

    // Gopher quality rules (Rae 2112.11446 App. A): every rule fires on
    // a deterministic doc_id-mod slice — %31 ellipsis spam (rule 4),
    // %29 long-word docs (rule 2),
    // %23 numeric spam (rule 7), %19 all-ellipsis lines (rule 6), %17
    // all-bullet lines (rule 5), %13 20-word truncation (rule 1), %7
    // hash spam (rule 3); stop-word presence (rule 8) runs on the house
    // corpus stop list (the synthetic vocabulary is not English web
    // text) and varies naturally with the corpus languages. One
    // scan-fused projection both sides.
    "q_gopher_quality" -> ((s, dir) => {
      val did = col("doc_id")
      val base = col("text")
      val wordsAll = split(translate(base, "\n", " "), " ")
      val n = size(wordsAll)
      val spam = (tok: String) =>
        array_join(array_repeat(lit(tok), n), " ")
      val perLine = (f: Column => Column) =>
        array_join(transform(split(base, "\n"), f), "\n")
      val t = when(did % 31 === 0, concat(base, lit(" "), spam("...")))
        .when(did % 29 === 0, array_join(
          array_repeat(lit("pneumonoultramicroscopicsilicovolcanoconiosis"),
            lit(60)), " "))
        .when(did % 23 === 0, concat(base, lit(" "), spam("12345")))
        .when(did % 19 === 0, perLine(l => concat(l, lit("..."))))
        .when(did % 17 === 0, perLine(l => concat(lit("- "), l)))
        .when(did % 13 === 0, array_join(slice(wordsAll, 1, 20), " "))
        .when(did % 7 === 0, concat(base, lit(" "), spam("#")))
        .otherwise(base)
      TextStats.gopherFilter(
          Tables.documents(s, dir).select(did, t.as("text")),
          "text", "doc_id", stopwords = TextStats.defaultStopwords)
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: corpus docs sharing any 5-gram with
    // the "eval set" (docs 0-2 here) are dropped — including those
    // docs themselves (n=3 so cross-document overlap genuinely fires:
    // 112 of 500 docs are contaminated at sf0.01). Broadcast semi-join
    // on map-side distinct shingles; the full shingle stream never
    // shuffles.
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(docs, "text", "doc_id",
        docs.filter(col("doc_id") < 3), "text", n = 3)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // Graded contamination: per-doc fraction of distinct 3-shingles
    // present in the eval slice — the "3% contaminated" report real
    // pipelines threshold per benchmark (GPT-3 app. C shape).
    "q_contamination_frac" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationStats(docs, "text", "doc_id",
        docs.filter(col("doc_id") < 3), "text", n = 3)
        .orderBy("doc_id")
    }),

    // BM25 relevance against a literal term set: one tree-aggregated
    // stats pass (N, sum dl, per-term df — all riding the native
    // TokenStats kernel), driver-baked idf literals, then a scan-fused
    // scoring projection. Zero shuffles end to end.
    "q_bm25" -> ((s, dir) =>
      TextStats.withBm25(Tables.documents(s, dir), "text", bm25Terms)
        .select(col("doc_id"), col("dl"), round(col("bm25"), 6).as("bm25"))
        .orderBy("doc_id")),

    // TF-IDF (sklearn smooth-idf) over the same probe vocabulary: one
    // stats pass, idf as plan literals, scan-fused scoring.
    "q_tfidf" -> ((s, dir) =>
      TextStats.withTfIdf(Tables.documents(s, dir), "text", bm25Terms)
        .select(col("doc_id") +:
          bm25Terms.indices.map(i =>
            round(col(s"tfidf_$i"), 6).as(s"tfidf_$i")): _*)
        .orderBy("doc_id")),

    // Count-min sketch (Cormode–Muthukrishnan; Spark's built-in
    // count_min_sketch aggregate): the sketch itself is
    // engine-specific binary, so the gate checks its GUARANTEES — for
    // the 5 heaviest tokens, estimate ≥ true count (always) and
    // ≤ true + ε·N (w.p. 1−δ; deterministic here given the seed) —
    // against TRUE literals, the q_vocab_size pattern. Alongside
    // FreqItems (Misra–Gries) and HLL++, this completes the mergeable-
    // sketch triple a 100 TB profiling pass needs.
    "q_heavy_tokens_cms" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select(explode(TextStats.tokens(col("text"))).as("token"))
      val row = toks.agg(
        count_min_sketch(col("token"), lit(0.001), lit(0.99), lit(42)).as("cms"),
        count(lit(1)).as("n")).head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
      val n = row.getLong(1)
      val top = toks.groupBy("token").count()
        .orderBy(col("count").desc, col("token")).limit(5).collect()
      top.map { r =>
        val est = cms.estimateCount(r.getString(0))
        (r.getString(0), r.getLong(1),
          est >= r.getLong(1), est <= r.getLong(1) + (0.001 * n).toLong)
      }.toSeq.toDF("token", "true_count", "cms_lower_bound_ok", "cms_eps_bound_ok")
        .orderBy("token")
    }),

    // True-subword token counts from the in-repo learned BPE merge
    // table (Sennrich 1508.07909; Bpe.train): one codegen'd expression
    // per row with the table as a reference object. EXACT oracle — the
    // learned table embeds as literal VALUES and a per-rank replace
    // recursion mirrors the expression term for term (trainedBpeOracle).
    "q_bpe_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Bpe.countExpr(col("text"), Bpe.trained(s, dir)).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // Full BPE encode: the actual subword token stream (what a
    // tokenizer hands the trainer), exploded to (doc, pos, token).
    // The scan feeds sanitized text (delimiter/newline → space) so the
    // oracle needs no fallback branch; fallback parity is covered by
    // q_bpe_tokens + the Scala spec.
    "q_bpe_encode" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(Bpe.encodeExpr(
            regexp_replace(col("text"), "[|\\n\\r]", " "),
            Bpe.trained(s, dir))).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos")),

    // Byte-level BPE encode — the fourth tokenizer family (GPT-2 byte
    // encoder; llmdata/ByteBpe.scala + functions/ByteBpeEncode.scala):
    // UTF-8 bytes → reversible surrogate alphabet → the shared merge
    // loop. RAW text, no sanitization and no fallback branch — '|',
    // newlines and any script byte-encode, so OOV is zero BY
    // CONSTRUCTION (the property the word-table families only get from
    // a shared word list). EXACT oracle: the learned table embeds as
    // VALUES and the byte expansion replays in pure code-point
    // arithmetic against the embedded 256-char map (byteBpeCteSql).
    "q_byte_bpe" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(ByteBpe.encodeExpr(col("text"),
            ByteBpe.trained(s, dir))).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos")),

    // Unigram-LM (SentencePiece-family) Viterbi segmentation from the
    // in-repo EM-trained piece table (Kudo 1804.10959; Unigram.train):
    // one codegen'd expression per row with the table as a reference
    // object, integer micro-unit scores so the DP is exact
    // cross-engine. EXACT oracle — the trained table embeds as literal
    // VALUES and a recursive-CTE forward DP + backward longest-piece
    // reconstruction mirrors the expression span for span
    // (trainedUnigramOracle). Raw text: unlike BPE there is no
    // delimiter-fallback branch, so no sanitization is needed.
    "q_unigram_encode" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(Unigram.encodeExpr(col("text"),
            Unigram.trained(s, dir))).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos")),

    // Cross-lingual tokenizer coverage: the unigram model trained on
    // ENGLISH documents only, evaluated for out-of-vocabulary rate on
    // every language — the coverage-gap report a multilingual corpus
    // owner reads before trusting a tokenizer (a piece table that
    // never saw a script emits unk singles for all of it). OOV test is
    // a broadcast anti-join of the token stream against the trained
    // piece table — no UDF. (The synthetic corpus shares one word list
    // across its language labels, so the exact rate here is 0 at every
    // SF; the disjoint-script case is spec'd in UnigramSpec.)
    "q_tokenizer_coverage" -> ((s, dir) => {
      import s.implicits._
      val m = Unigram.trainedEn(s, dir)
      val pieces = broadcast(m.pieces.toSeq.toDF("piece"))
      Tables.documents(s, dir)
        .select(col("lang"),
          explode(Unigram.encodeExpr(col("text"), m)).as("token"))
        .join(pieces, col("token") === col("piece"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("piece").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
            .as("oov_rate"))
        .orderBy("lang")
    }),

    // Per-document unigram token counts off the same expression (size
    // of the encode array — count ≡ segmentation length by
    // construction).
    "q_unigram_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(Unigram.encodeExpr(col("text"),
            Unigram.trained(s, dir))).as("n_unigram_tokens"))
        .orderBy("doc_id")),

    // WordPiece greedy longest-match segmentation from the in-repo
    // likelihood-merge-trained vocabulary (Schuster & Nakajima 2012;
    // WordPiece.train) — the THIRD production tokenizer family beside
    // BPE and unigram-LM: one codegen'd expression per row with the
    // vocabulary as a reference object; greedy needs no scores, so
    // cross-engine exactness needs no quantization. EXACT oracle — the
    // trained vocabulary embeds as literal VALUES and a recursive-CTE
    // greedy walk mirrors the expression step for step
    // (trainedWordPieceOracle). Text sanitized of '#' on BOTH sides
    // (the q_bpe_encode sanitization precedent — a raw '#' could alias
    // the ## continuation marker in the lookup key).
    "q_wordpiece_encode" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(WordPiece.encodeExpr(
            regexp_replace(col("text"), "#", " "),
            WordPiece.trained(s, dir))).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos")),

    // Cross-document sequence packing: greedy running-token-sum bins
    // per source shard (512-token budget) — the window is per-shard,
    // never a global orderBy. Budgets count LEARNED BPE subwords (what
    // a training sequence actually holds), not whitespace tokens; the
    // oracle chains the BPE recursion into the packing arithmetic.
    "q_sequence_packing" -> ((s, dir) =>
      TextStats.packSequences(Tables.documents(s, dir), "text", "doc_id",
        "source", budget = 512,
        tokenCounter = Bpe.countExpr(_, Bpe.trained(s, dir)))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"))
        .orderBy("doc_id")),

    // Tokenizer fertility report comparing ALL FOUR in-repo tokenizer
    // families per language: BPE subwords, unigram-LM pieces,
    // WordPiece tokens and byte-level BPE tokens per whitespace word,
    // chars per subword — the side-by-side tokenizer-QA numbers a
    // multilingual corpus owner reads before choosing a tokenizer
    // (fertility ≫ 1 on a language = that tokenizer fragments it; the
    // byte column runs higher on non-Latin scripts, the price of its
    // zero-OOV guarantee). One aggregation; all four counts are
    // scan-fused codegen kernels over the same pass. The WordPiece
    // column reads the '#'-sanitized text (its oracle-parity contract).
    "q_bpe_fertility" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_words"),
          length(col("text")).cast("long").as("n_chars"),
          Bpe.countExpr(col("text"), Bpe.trained(s, dir)).cast("long").as("n_bpe"),
          size(Unigram.encodeExpr(col("text"), Unigram.trained(s, dir)))
            .cast("long").as("n_uni"),
          size(WordPiece.encodeExpr(regexp_replace(col("text"), "#", " "),
            WordPiece.trained(s, dir))).cast("long").as("n_wp"),
          size(ByteBpe.encodeExpr(col("text"), ByteBpe.trained(s, dir)))
            .cast("long").as("n_byte"))
        .groupBy("lang")
        .agg(sum("n_words").as("n_words"), sum("n_bpe").as("n_bpe"),
          sum("n_uni").as("n_uni"), sum("n_wp").as("n_wp"),
          sum("n_byte").as("n_byte"),
          round(sum("n_bpe").cast("double") / sum("n_words").cast("double"), 6)
            .as("fertility_bpe"),
          round(sum("n_uni").cast("double") / sum("n_words").cast("double"), 6)
            .as("fertility_unigram"),
          round(sum("n_wp").cast("double") / sum("n_words").cast("double"), 6)
            .as("fertility_wordpiece"),
          round(sum("n_byte").cast("double") / sum("n_words").cast("double"), 6)
            .as("fertility_byte"),
          round(sum("n_chars").cast("double") / sum("n_bpe").cast("double"), 6)
            .as("chars_per_token_bpe"),
          round(sum("n_chars").cast("double") / sum("n_uni").cast("double"), 6)
            .as("chars_per_token_unigram"),
          round(sum("n_chars").cast("double") / sum("n_wp").cast("double"), 6)
            .as("chars_per_token_wordpiece"),
          round(sum("n_chars").cast("double") / sum("n_byte").cast("double"), 6)
            .as("chars_per_token_byte"))
        .orderBy("lang")),

    // Length-bucketed packing: power-of-two token-length buckets
    // (integer bit-length — no float log), packed per (source, bucket)
    // — the padding-minimizing batching recipe; windows are strictly
    // narrower than q_sequence_packing's per-shard ones.
    "q_pack_length_buckets" -> ((s, dir) =>
      TextStats.packLengthBuckets(Tables.documents(s, dir), "text",
        "doc_id", "source", budget = 256)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("len_bucket"), col("pack_id"))
        .orderBy("doc_id")),

    // Weighted k-sample without replacement (Efraimidis–Spirakis
    // A-ES): token-count-weighted document draw on content-hash
    // uniforms — deterministic membership, TakeOrdered plan (bounded
    // per-partition heap, no global sort, no corpus shuffle).
    "q_weighted_sample" -> ((s, dir) =>
      Splits.weightedHashSample(
        Tables.documents(s, dir).select(col("doc_id"),
          TextStats.tokenCount(col("text")).cast("long").as("w")),
        "doc_id", "w", k = 100, salt = "aes")
        .orderBy("doc_id")),

    // Neyman-optimal stratified allocation (n_h ∝ N_h·σ_h, largest-
    // remainder integerization to hit k exactly) — the variance-
    // minimizing eval/probe-set design over corpus strata. One tiny
    // per-source aggregate; the allocation is fit ONCE per dir and
    // shared with q_neyman_sample (the kmeans fit-once/gate-twice
    // memo pattern), so both gate plans read the persisted frame.
    "q_neyman_allocation" -> ((s, dir) =>
      neymanAllocMemo(s, dir).orderBy("source")),

    // The drawn sample itself: per-stratum top-n_alloc by content
    // hash via the bounded-heap top-k (host-cap shape — never a
    // row_number window over the corpus), against the shared
    // memoized allocation.
    "q_neyman_sample" -> ((s, dir) =>
      Splits.neymanSampleFrom(Tables.documents(s, dir), "source",
        "doc_id", neymanAllocMemo(s, dir))
        .orderBy("source", "rank")),

    // Blocking-quality report (Christen's two numbers for judging a
    // blocking scheme): REDUCTION RATIO — what fraction of the n²/2
    // comparison space the blocking avoids — and PAIRS COMPLETENESS —
    // what fraction of TRUE near-dup pairs (the minhash ground truth
    // the dedup gates verify) the candidates retain. Round 9: graded
    // on the UNION-OF-RULES scheme (blockingUnion: prefix-24 /
    // suffix-24 / exact attribute key) — RR 0.9997 and PC 1.0 at
    // sf0.01, vs the retired single length-bucket key's 0.627/0.96.
    // Candidates ride the linkage fit-once pair memo; truth rides the
    // minhash oracle-pairs memo; four tiny aggregates.
    "q_blocking_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cand = graft.relational.RelationalQueries
        .linkagePairsMemo(s, dir).select("id_a", "id_b")
      val truth = DedupQueries.oracleMinhashPairs(s, dir).select("id_a", "id_b")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val c = cand.agg(count(lit(1)).as("n_candidates"))
      val t = truth.agg(count(lit(1)).as("n_truth"))
      val f = truth.join(cand, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("truth_found"))
      // try_divide: a corpus with no true near-dups (or <2 docs) gets
      // a null PC/RR rather than an ANSI divide-by-zero — the scaling
      // corpora are dup-free by construction
      n.crossJoin(broadcast(c)).crossJoin(broadcast(t))
        .crossJoin(broadcast(f))
        .select(col("n_docs"), col("n_candidates"),
          round(lit(1.0) - try_divide(col("n_candidates").cast("double"),
            (col("n_docs") * (col("n_docs") - 1)).cast("double") / lit(2.0)),
            6).as("reduction_ratio"),
          col("n_truth"), col("truth_found"),
          round(try_divide(col("truth_found").cast("double"),
            col("n_truth").cast("double")), 6).as("pair_completeness"))
    }),

    // Poisson-bootstrap CI for per-source mean doc length: exact
    // integer inverse-CDF weights from the house hash (no sampling,
    // no resample materialization — metrics/Bootstrap.scala), one
    // corpus pass for all 50 replicas.
    "q_bootstrap_ci" -> ((s, dir) =>
      graft.metrics.Bootstrap.bootstrapCI(Tables.documents(s, dir),
        "source", "doc_id", "n_chars", b = 50)
        .orderBy("source")),

    // Trainer-contract packing: per-doc token OFFSET within its pack
    // (the document-boundary/attention-mask info) — same per-shard
    // running sum, pure arithmetic, whitespace counter.
    "q_pack_offsets" -> ((s, dir) =>
      TextStats.packSequences(Tables.documents(s, dir), "text",
        "doc_id", "source", budget = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("pack_id"), col("pack_offset"))
        .orderBy("doc_id")),

    // Padding-waste report: unused slots per source under the 512
    // budget — the packing-efficiency number; ≤|packs| keys after the
    // packing scan.
    "q_padding_waste" -> ((s, dir) =>
      TextStats.packPaddingWaste(
        TextStats.packSequences(Tables.documents(s, dir), "text",
          "doc_id", "source", budget = 512),
        "source", budget = 512)
        .orderBy("source")),

    // Deterministic epoch shuffle: doc → (epoch, shard, pos) via a
    // 4-round Feistel bijection on the 60-bit id domain — the
    // trainer-side global reshuffle as a pure scan-fused projection
    // (no sort, no shuffle; order reproducible from (salt, epoch)).
    "q_epoch_shuffle" -> ((s, dir) =>
      Splits.epochShuffle(
        Tables.documents(s, dir).select(col("doc_id")),
        "doc_id", epochs = 2, nShards = 8, salt = "es8")
        .select(col("doc_id"), col("epoch"), col("shard"), col("pos"))
        .orderBy("epoch", "shard", "pos")),

    // Token-budget corpus selection: best-quality documents until the
    // budget fills — two-stage plan (score-group aggregate finds the
    // boundary; the corpus pays a scan-fused filter, only the single
    // boundary score group pays an ordered window).
    "q_budget_select" -> ((s, dir) =>
      Curriculum.budgetSelect(Tables.documents(s, dir), "doc_id",
        TextStats.qualityScore(col("text")),
        TextStats.tokenCount(col("text")), budget = 12000L)
        .orderBy("doc_id")),

    // Two-phase curriculum labeling: 'anneal' = the 5000-token
    // best-quality prefix (the end-of-training high-quality anneal
    // slice), 'main' = the rest; every row labeled in one frame.
    "q_anneal_phases" -> ((s, dir) =>
      Curriculum.annealPhases(Tables.documents(s, dir), "doc_id",
        TextStats.qualityScore(col("text")),
        TextStats.tokenCount(col("text")), annealBudget = 5000L)
        .orderBy("doc_id")),

    // Corpus report: doc/token/quality profile per source × lang with
    // CUBE subtotals — the profiling query a data curator runs before
    // choosing mixture weights. One aggregation pass; quality is the
    // scan-fused composite.
    "q_corpus_report" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          TextStats.tokenCount(t).as("n_tokens"),
          TextStats.qualityScore(t).as("q"))
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          round(avg(col("q")), 6).as("mean_quality"))
        .select(coalesce(col("source"), lit("(all)")).as("source"),
          coalesce(col("lang"), lit("(all)")).as("lang"),
          col("n_docs"), col("total_tokens"), col("mean_quality"))
        .orderBy("source", "lang")
    }),

    // per-language top-3 retrieval: BM25 composed with the bounded
    // heap aggregate (rank on the ROUNDED score so both engines order
    // identically; ≤ k·nPartitions rows per language shuffle).
    "q_bm25_topk" -> ((s, dir) =>
      TextStats.withBm25(Tables.documents(s, dir), "text", bm25Terms)
        .groupBy(col("lang"))
        .agg(graft.functions.TopKByScore(round(col("bm25"), 6),
          col("doc_id"), 3).as("nn"))
        .select(col("lang"), posexplode(col("nn")).as(Seq("pos", "sc")))
        .select(col("lang"), (col("pos") + 1).as("rank"),
          col("sc.id").as("doc_id"), col("sc.score").as("bm25"))
        .orderBy("lang", "rank")),

    // Cross-domain embedding similarity: per-label mean vectors
    // (key-bounded two-stage aggregation) + broadcast centroid-pair
    // cosine — the embedding-space "is dump B a re-crawl of dump A"
    // diagnostic beside the trigram source-overlap matrix.
    "q_domain_centroids" -> ((s, dir) =>
      Ann.centroidSimilarity(Tables.embeddings(s, dir), "label", "embedding")
        .select(col("key_a").as("label_a"), col("key_b").as("label_b"),
          round(col("cos"), 6).as("cos"))
        .orderBy("label_a", "label_b")),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack SIGIR'09) of
    // the corpus-wide BM25 top-10 (lexical) and the cosine top-10
    // against query vector 0 (semantic). Both input rankings are taken
    // on rounded scores with id tie break so the cross-engine rank
    // lists agree exactly; fusion itself is bounded arithmetic.
    "q_rrf_fusion" -> ((s, dir) => {
      val lex = TextStats.withBm25(Tables.documents(s, dir), "text", bm25Terms)
        .groupBy()
        .agg(graft.functions.TopKByScore(round(col("bm25"), 6),
          col("doc_id"), 10).as("nn"))
        .select(posexplode(col("nn")).as(Seq("pos", "sc")))
        .select(col("sc.id").as("doc_id"), (col("pos") + 1).as("rank"))
      val emb = Tables.embeddings(s, dir)
      val q0 = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
        .withColumn("__nq", Ann.normExpr(col("qv"))))
      val vec = emb.filter(col("vec_id") =!= 0)
        .join(q0)
        .select(col("vec_id").as("doc_id"),
          round(Ann.dotExpr(col("qv"), col("embedding")) /
            (col("__nq") * Ann.normExpr(col("embedding"))), 6).as("cos"))
        .groupBy()
        .agg(graft.functions.TopKByScore(col("cos"), col("doc_id"), 10)
          .as("nn"))
        .select(posexplode(col("nn")).as(Seq("pos", "sc")))
        .select(col("sc.id").as("doc_id"), (col("pos") + 1).as("rank"))
      Retrieval.rrfFuse(Seq(lex, vec), "doc_id", "rank", k = 5)
        .select(col("rank"), col("doc_id"), round(col("rrf"), 6).as("rrf"),
          col("n_lists"))
        .orderBy("rank")
    }),

    // In-batch negative pairs for contrastive training: md5 batch
    // assignment (64 batches ≈ expected size 8 on 500 docs), pairs only
    // within a batch across different langs — the per-batch equi-join
    // shape that stays linear at corpus scale.
    "q_inbatch_negatives" -> ((s, dir) =>
      Contrastive.inBatchNegatives(Tables.documents(s, dir),
        "doc_id", "lang", nBatches = 64)
        .orderBy("batch", "anchor_id", "neg_id")),

    // Hard-negative mining: per anchor (vec_id < 8), top-3 cosine
    // neighbors with a DIFFERENT class label, ranked on round(cos,6)
    // with id tiebreak in both engines.
    "q_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Contrastive.hardNegatives(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 3)
        .orderBy("anchor_id", "rank")
    }),

    // Shard manifest: deterministic md5 shard assignment + per-shard
    // count / byte sum / order-independent bit_xor content checksum.
    "q_shard_manifest" -> ((s, dir) =>
      Contrastive.shardManifest(Tables.documents(s, dir),
        "doc_id", "n_chars", nShards = 8)
        .orderBy("shard")),

    // The sink itself, end to end: write the corpus as directory-
    // partitioned parquet shards under /tmp, RE-READ the files, and
    // manifest what came back — the oracle aggregates the original
    // table, so any row the sink drops/duplicates/corrupts flips its
    // shard's checksum. Idempotent overwrite; one writer per shard.
    "q_shard_write_roundtrip" -> ((s, dir) => {
      val out = "/tmp/graft_sink/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      graft.sources.Sinks.writeShards(Tables.documents(s, dir), out,
          shardCol = "source", idCol = "doc_id", sizeCol = "n_chars",
          maxRecordsPerFile = 200)
        .orderBy("source")
    }),

    // Incremental recomputation driver (Sinks.shardDelta): diff the
    // previous run's shard manifest against the current corpus and
    // name exactly the shards a re-run must touch. The "previous"
    // snapshot is a deterministic projection of the same table (drops
    // every 17th doc — the arrivals — and all of src0 — a whole new
    // shard) plus one literal retired shard, so all four statuses
    // occur. Manifests are ≤|shards| rows; the diff is a tiny
    // full-outer join on the order-independent bit_xor checksums.
    "q_shard_delta" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val cur = graft.sources.Sinks.writtenManifest(
        docs, "source", "doc_id", "n_chars")
      val prev = graft.sources.Sinks.writtenManifest(
          docs.filter(col("doc_id") % 17 =!= 0 && col("source") =!= "src0"),
          "source", "doc_id", "n_chars")
        .unionByName(Seq(("src_retired", 5L, 999L, 123456789L))
          .toDF("source", "n_docs", "total_size", "checksum"))
      graft.sources.Sinks.shardDelta(prev, cur, "source")
        .orderBy("source")
    }),

    // Source-concentration report: Gini / HHI / top-share over per-source
    // char mass — one corpus aggregate, window only over the tiny
    // per-source frame.
    "q_source_gini" -> ((s, dir) =>
      TextStats.concentrationReport(Tables.documents(s, dir),
        "source", col("n_chars"))),
  )

  def oracles: Map[String, String] = Map(
    "q_text_normalize" ->
      """WITH m AS (SELECT doc_id,
        |  chr(1) || chr(2) || '  intro' || chr(11) || chr(9) ||
        |  regexp_replace(text, 'e', 'e' || chr(769), 'g') ||
        |  chr(9) || ' trailing   run ' AS text
        |  FROM documents),
        |n AS (SELECT doc_id, CAST(length(text) AS INT) AS n_raw,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS normalized
        |  FROM m)
        |SELECT doc_id, n_raw, normalized,
        |  CAST(length(normalized) AS INT) AS n_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | round(list_aggregate(list_transform(string_split(text, ' '), x -> len(x)), 'sum')
        |   * 1.0 / len(string_split(text, ' ')), 6) AS avg_token_len,
        | round(len(list_filter(string_split(text, ' '),
        |   x -> x IN ('the','a','of','and','to','in')))
        |   * 1.0 / len(string_split(text, ' ')), 6) AS stopword_ratio,
        | round(len(list_distinct(string_split(text, ' ')))
        |   * 1.0 / len(string_split(text, ' ')), 6) AS unique_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH sc AS (SELECT doc_id,
        |  len(list_filter(string_split(text,' '), x -> x IN ('der','und','die'))) AS s_de,
        |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','of'))) AS s_en,
        |  len(list_filter(string_split(text,' '), x -> x IN ('el','la','y'))) AS s_es,
        |  len(list_filter(string_split(text,' '), x -> x IN ('le','et','les'))) AS s_fr,
        |  len(list_filter(string_split(text,' '), x -> x IN ('de','shi','bu'))) AS s_zh
        | FROM documents)
        |SELECT doc_id, s_en, s_fr,
        | CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |      WHEN s_en >= greatest(s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |      WHEN s_es >= greatest(s_fr, s_zh) AND s_es > 0 THEN 'es'
        |      WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |      WHEN s_zh > 0 THEN 'zh' ELSE 'und' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(
        |   regexp_replace(lower(text), '[[:punct:]]', '', 'g'),
        |   '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // v2 pipeline mirror: composition of the q_lang_id / q_text_quality
    // / q_repetition / q_decontaminate / q_dedup_exact / q_mixture_*
    // oracle fragments. DOUBLE casts on the dup2 filter and rate math
    // (they feed unrounded comparisons); the quality expression is the
    // proven v1 fragment verbatim.
    "q_llm_pipeline_v2" ->
      """WITH d0 AS (SELECT doc_id, source, text, string_split(text, ' ') AS t,
        |              len(text) AS nc FROM documents),
        |sc AS (SELECT doc_id, source, text, t, nc,
        |  len(list_filter(t, x -> x IN ('der','und','die'))) AS s_de,
        |  len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
        |  len(list_filter(t, x -> x IN ('el','la','y'))) AS s_es,
        |  len(list_filter(t, x -> x IN ('le','et','les'))) AS s_fr,
        |  len(list_filter(t, x -> x IN ('de','shi','bu'))) AS s_zh
        | FROM d0),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |         i -> array_to_string(t[i:i+1], ' '))) AS g FROM d0),
        |c2 AS (SELECT doc_id,
        |         sum(CASE WHEN cnt >= 2 THEN cnt * len(g) ELSE 0 END) AS dup2
        |       FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
        |       GROUP BY 1),
        |lq AS (SELECT sc.doc_id, sc.source, sc.text, sc.t, sc.nc,
        |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |       WHEN s_en >= greatest(s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |       WHEN s_es >= greatest(s_fr, s_zh) AND s_es > 0 THEN 'es'
        |       WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |       WHEN s_zh > 0 THEN 'zh' ELSE 'und' END AS lang,
        |  ((CASE WHEN len(t) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
        |    + least(len(list_distinct(t)) * 1.0 / len(t) * 2.0, 1.0))
        |   + CASE WHEN len(list_filter(t,
        |       x -> x IN ('the','a','of','and','to','in'))) * 1.0
        |         / len(t) > 0 THEN 1.0 ELSE 0.0 END) / 3.0 AS quality,
        |  CASE WHEN sc.nc = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE least(CAST(coalesce(c2.dup2, 0) AS DOUBLE)
        |           / CAST(sc.nc AS DOUBLE), CAST(1.0 AS DOUBLE)) END AS dup2f
        | FROM sc LEFT JOIN c2 USING (doc_id)),
        |kept0 AS (SELECT doc_id, source, text, t, nc, lang, quality,
        |    len(t) AS n_tokens,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[[:punct:]]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM lq WHERE quality >= 0.5 AND dup2f <= CAST(0.15 AS DOUBLE)),
        |g3 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))))
        |         AS s3 FROM d0),
        |ev AS (SELECT DISTINCT s3 FROM g3 WHERE doc_id < 3),
        |hits AS (SELECT DISTINCT g3.doc_id FROM g3 JOIN ev USING (s3)
        |         JOIN kept0 k ON k.doc_id = g3.doc_id),
        |kept1 AS (SELECT * FROM kept0
        |          WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        |reps AS (SELECT fp, min(doc_id) AS doc_id FROM kept1 GROUP BY fp),
        |kept2 AS (SELECT k.doc_id, k.source, k.lang, k.quality, k.n_tokens,
        |            CAST(k.nc AS INT) AS n_chars
        |          FROM kept1 k JOIN reps r ON r.fp = k.fp AND r.doc_id = k.doc_id),
        |gr AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS units
        |       FROM kept2 GROUP BY 1),
        |rt AS (SELECT lang, least(CAST(1.0 AS DOUBLE),
        |         CAST(CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4
        |              WHEN 'es' THEN 0.1 WHEN 'fr' THEN 0.2 WHEN 'zh' THEN 0.1
        |              ELSE 0.0 END AS DOUBLE)
        |           * CAST(30000 AS DOUBLE) / CAST(units AS DOUBLE)) AS rate
        |       FROM gr),
        |samp AS (SELECT k.doc_id, k.source, k.lang, k.quality, k.n_tokens
        |  FROM kept2 k JOIN rt USING (lang)
        |  WHERE (('0x' || substr(md5('mix2' || CAST(k.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |         % 1000000)
        |    < floor(rate * CAST(1000000 AS DOUBLE))),
        |pk AS (SELECT doc_id, source, lang, quality, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum FROM samp)
        |SELECT doc_id, source, lang, round(quality, 6) AS quality,
        | CAST(n_tokens AS INT) AS n_tokens,
        | CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(512 AS DOUBLE))
        |   AS INT) AS pack_id
        |FROM pk ORDER BY doc_id""".stripMargin,

    // URL mirror: same synthesized URL, same (?i) extract/replace
    // chain; the failed-extract path returns '' in both engines.
    "q_url_canonical" ->
      """WITH u AS (SELECT doc_id, text,
        |  'HTTPS://WWW.' || upper(source) || '.Org/Path/' ||
        |    CAST(doc_id AS VARCHAR) || '/?utm_source=x&y=1#frag' AS url
        |  FROM documents)
        |SELECT doc_id,
        | CASE WHEN regexp_extract(url, '(?i)^(https?)://', 1) = ''
        |        OR regexp_extract(url, '(?i)^https?://([^/?#]+)', 1) = ''
        |   THEN ''
        |   ELSE lower(regexp_extract(url, '(?i)^(https?)://', 1)) || '://'
        |     || lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1))
        |     || regexp_replace(
        |          regexp_extract(url, '(?i)^https?://[^/?#]+([^?#]*)', 1),
        |          '/$', '') END AS canonical,
        | lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1)) AS host,
        | CASE WHEN regexp_extract(text, '(?i)^(https?)://', 1) = ''
        |        OR regexp_extract(text, '(?i)^https?://([^/?#]+)', 1) = ''
        |   THEN ''
        |   ELSE lower(regexp_extract(text, '(?i)^(https?)://', 1)) || '://'
        |     || lower(regexp_extract(text, '(?i)^https?://([^/?#]+)', 1))
        |     || regexp_replace(
        |          regexp_extract(text, '(?i)^https?://[^/?#]+([^?#]*)', 1),
        |          '/$', '') END AS not_a_url
        |FROM u ORDER BY doc_id""".stripMargin,

    // URL-dedup mirror: same in-plan URL synthesis + canonicalization,
    // winner per canonical key via row_number(n_chars DESC, doc_id).
    "q_url_dedup" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://WWW.Example.COM/r'
        |        WHEN doc_id % 3 = 1 THEN 'http://www.example.com/r'
        |        ELSE 'Http://www.EXAMPLE.com/r' END)
        |  || CAST(doc_id % 40 AS VARCHAR)
        |  || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, n_chars,
        |  lower(regexp_extract(url, '(?i)^(https?)://', 1)) || '://'
        |    || lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1))
        |    || regexp_replace(
        |         regexp_extract(url, '(?i)^https?://[^/?#]+([^?#]*)', 1),
        |         '/$', '') AS canonical
        |  FROM u),
        |r AS (SELECT canonical, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY canonical
        |          ORDER BY n_chars DESC, doc_id) AS rn FROM c)
        |SELECT canonical, doc_id, n_chars FROM r WHERE rn = 1
        |ORDER BY canonical""".stripMargin,

    // PII mirror: same synthesized composite, same three patterns in
    // the same order ('g' = Spark's replace-all default).
    "q_pii_scrub" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   concat_ws(' ', source || '@' || lang || '.com',
        |     'https://' || source || '.org/x',
        |     '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1',
        |     substr(text, 1, 40)),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^\s]+', '<URL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[[:punct:]]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS old_fp FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' updated'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 13 = 0),
        |n AS (SELECT doc_id, md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[[:punct:]]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS new_fp FROM v2),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN old_fp = new_fp THEN 'unchanged'
        |         ELSE 'changed' END AS status,
        |    coalesce(old_fp, '') AS old_fp,
        |    coalesce(new_fp, '') AS new_fp
        |  FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id)
        |SELECT doc_id, status, old_fp, new_fp
        |FROM j ORDER BY doc_id""".stripMargin,

    "q_token_entropy" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split(replace(text, chr(10), ' '), ' '),
        |    t -> len(t) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |g AS (SELECT doc_id,
        |  CAST(sum(c) AS INT) AS n_tokens,
        |  CAST(count(*) AS INT) AS n_distinct,
        |  ln(CAST(sum(c) AS DOUBLE))
        |    - sum(c * ln(c)) / CAST(sum(c) AS DOUBLE) AS ent
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct, round(ent, 6) AS entropy,
        |  round(CASE WHEN n_distinct > 1 THEN ent / ln(n_distinct)
        |        ELSE 0.0 END, 6) AS norm_entropy
        |FROM g ORDER BY doc_id""".stripMargin,

    // line-clean mirror: same in-plan synthesis, rule-by-rule filters,
    // keep-first via min(pos), ordered string_agg reassembly.
    "q_line_clean" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |m AS (SELECT doc_id, concat_ws(chr(10),
        |        array_to_string(t[1:8], ' '),
        |        upper(array_to_string(t[1:8], ' ')),
        |        concat_ws(' ', CAST(doc_id AS VARCHAR),
        |          CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR)),
        |        array_to_string(t[1:8], ' '),
        |        'short',
        |        array_to_string(t[9:16], ' ')) AS text
        |      FROM d),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM m),
        |posi AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS i, l
        |         FROM ls),
        |r AS (SELECT doc_id, i AS pos, l[i] AS line,
        |        len(string_split(l[i], ' ')) AS nw,
        |        len(replace(l[i], ' ', '')) AS nc,
        |        len(regexp_replace(l[i], '[^A-Z]', '', 'g')) AS nu,
        |        len(regexp_replace(l[i], '[^0-9]', '', 'g')) AS nd
        |      FROM posi),
        |k AS (SELECT doc_id, line, min(pos) AS pos FROM r
        |      WHERE nw >= 3 AND (nc = 0 OR
        |        (CAST(nu AS DOUBLE) / nc <= 0.6
        |         AND CAST(nd AS DOUBLE) / nc <= 0.5))
        |      GROUP BY doc_id, line),
        |agg AS (SELECT doc_id,
        |          string_agg(line, chr(10) ORDER BY pos) AS cleaned,
        |          count(*) AS n_kept
        |        FROM k GROUP BY doc_id),
        |n AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
        |      FROM m)
        |SELECT n.doc_id, coalesce(cleaned, '') AS cleaned,
        |  coalesce(n_kept, 0) AS n_kept,
        |  n_lines - coalesce(n_kept, 0) AS n_dropped
        |FROM n LEFT JOIN agg ON agg.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    // Zipf oracle: row_number replay of the heap's (freq desc, token)
    // order, identical closed-form sums; intercept uses the UNROUNDED
    // slope expression as in Spark.
    "q_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |c AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |r AS (SELECT w, c FROM
        |       (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk
        |        FROM c) WHERE rk <= 100),
        |s AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w)
        |          AS DOUBLE)) AS x,
        |        ln(CAST(c AS DOUBLE)) AS y
        |      FROM r),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |        sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |      FROM s)
        |SELECT CAST(n AS INT) AS n_top,
        |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
        |  round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
        |    * sx / n, 6) AS intercept
        |FROM a""".stripMargin,

    // source-overlap mirror: DISTINCT trigrams per source, self-join on
    // the shingle, inner pair semantics (zero-overlap pairs absent both
    // sides).
    "q_source_overlap" ->
      """WITH dt AS (SELECT source, string_split(text, ' ') AS t
        |            FROM documents),
        |sh AS (SELECT DISTINCT source,
        |        unnest(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |       FROM dt WHERE len(t) >= 3),
        |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |ix AS (SELECT a.source AS src_a, b.source AS src_b,
        |         count(*) AS inter
        |       FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b, inter, sa.n AS n_a, sb.n AS n_b,
        |  round(CAST(inter AS DOUBLE)
        |    / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
        |FROM ix JOIN sz sa ON sa.source = src_a
        |JOIN sz sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // C4 mirror: same synthesized lines, kept-line predicate via
    // right(line,1) + word count + javascript contains, page flags on
    // the raw text, sentence marks counted by regexp erasure.
    "q_c4_filter" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |m AS (SELECT doc_id, concat(concat_ws(chr(10),
        |        array_to_string(t[1:6], ' ') || '.',
        |        array_to_string(t[1:6], ' '),
        |        'too short.',
        |        'please enable javascript to view this page.',
        |        array_to_string(t[7:12], ' ') ||
        |          CASE WHEN doc_id % 3 <> 0 THEN '? Yes! Sure. Fine. Ok.'
        |               ELSE '?' END),
        |        CASE WHEN doc_id % 7 = 0
        |         THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END,
        |        CASE WHEN doc_id % 11 = 0
        |         THEN chr(10) || 'brace { ahead in code.' ELSE '' END,
        |        CASE WHEN doc_id % 13 = 0
        |         THEN chr(10) || 'this is verboten content here.' ELSE '' END)
        |        AS text
        |      FROM d),
        |posi AS (SELECT doc_id, text, unnest(range(1, len(l) + 1)) AS i, l
        |         FROM (SELECT doc_id, text,
        |                 string_split(text, chr(10)) AS l FROM m)),
        |k AS (SELECT doc_id, i AS pos, l[i] AS line FROM posi
        |      WHERE right(l[i], 1) IN ('.', '!', '?', '"')
        |        AND len(string_split(l[i], ' ')) >= 3
        |        AND NOT contains(lower(l[i]), 'javascript')),
        |agg AS (SELECT doc_id,
        |          string_agg(line, chr(10) ORDER BY pos) AS cleaned,
        |          count(*) AS n_kept
        |        FROM k GROUP BY doc_id),
        |f AS (SELECT m.doc_id, coalesce(cleaned, '') AS cleaned,
        |        CAST(coalesce(n_kept, 0) AS INT) AS n_kept,
        |        CAST(len(coalesce(cleaned, ''))
        |          - len(regexp_replace(coalesce(cleaned, ''),
        |              '[.!?]', '', 'g')) AS INT) AS n_sentences,
        |        CAST(contains(lower(m.text), 'lorem ipsum') AS INT)
        |          AS has_lorem,
        |        CAST(contains(m.text, '{') AS INT) AS has_brace,
        |        CAST(list_has_any(
        |          string_split(replace(lower(m.text), chr(10), ' '), ' '),
        |          ['verboten', 'forbidden']) AS INT) AS has_badword
        |      FROM m LEFT JOIN agg ON agg.doc_id = m.doc_id)
        |SELECT doc_id, cleaned, n_kept, n_sentences, has_lorem, has_brace,
        |  has_badword,
        |  CAST(has_lorem = 0 AND has_brace = 0 AND has_badword = 0
        |    AND n_kept > 0 AND n_sentences >= 5 AS INT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_gopher_quality" ->
      """WITH m AS (SELECT doc_id,
        |  CASE WHEN doc_id % 31 = 0 THEN text || ' ' || array_to_string(
        |         list_transform(range(0, len(string_split(
        |           replace(text, chr(10), ' '), ' '))), x -> '...'), ' ')
        |       WHEN doc_id % 29 = 0 THEN array_to_string(
        |         list_transform(range(0, 60),
        |           x -> 'pneumonoultramicroscopicsilicovolcanoconiosis'), ' ')
        |       WHEN doc_id % 23 = 0 THEN text || ' ' || array_to_string(
        |         list_transform(range(0, len(string_split(
        |           replace(text, chr(10), ' '), ' '))), x -> '12345'), ' ')
        |       WHEN doc_id % 19 = 0 THEN array_to_string(
        |         list_transform(string_split(text, chr(10)),
        |           l -> l || '...'), chr(10))
        |       WHEN doc_id % 17 = 0 THEN array_to_string(
        |         list_transform(string_split(text, chr(10)),
        |           l -> '- ' || l), chr(10))
        |       WHEN doc_id % 13 = 0 THEN array_to_string(
        |         (string_split(replace(text, chr(10), ' '), ' '))[1:20], ' ')
        |       WHEN doc_id % 7 = 0 THEN text || ' ' || array_to_string(
        |         list_transform(range(0, len(string_split(
        |           replace(text, chr(10), ' '), ' '))), x -> '#'), ' ')
        |       ELSE text END AS text
        |  FROM documents),
        |s AS (SELECT doc_id, text,
        |  list_filter(string_split(replace(text, chr(10), ' '), ' '),
        |    w -> len(w) > 0) AS words,
        |  string_split(text, chr(10)) AS lines FROM m),
        |g AS (SELECT doc_id, len(words) AS nw,
        |  CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |    / len(words) AS mean_len,
        |  CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
        |    / len(words) AS hashr,
        |  (CAST(len(text) - len(regexp_replace(text, '\.\.\.', '', 'g'))
        |    AS DOUBLE) / 3) / len(words) AS ellr,
        |  CAST(len(list_filter(lines,
        |    l -> left(ltrim(l), 1) IN ('•', '-', '*'))) AS DOUBLE)
        |    / len(lines) AS bulletf,
        |  CAST(len(list_filter(lines, l -> right(l, 3) = '...')) AS DOUBLE)
        |    / len(lines) AS elinef,
        |  CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
        |    AS DOUBLE) / len(words) AS alphaf,
        |  len(list_distinct(list_intersect(
        |    list_filter(string_split(replace(lower(text), chr(10), ' '), ' '),
        |      w -> len(w) > 0),
        |    ['the','a','of','and','to','in']))) AS nstop
        |  FROM s)
        |SELECT doc_id, CAST(nw AS INT) AS n_words,
        |  round(mean_len, 6) AS mean_word_len,
        |  round(hashr, 6) AS hash_ratio,
        |  round(ellr, 6) AS ellipsis_ratio,
        |  round(bulletf, 6) AS bullet_frac,
        |  round(elinef, 6) AS ellipsis_line_frac,
        |  round(alphaf, 6) AS alpha_word_frac,
        |  CAST(nstop AS INT) AS n_stop_hits,
        |  CAST(nw BETWEEN 50 AND 100000 AS INT) AS r_words,
        |  CAST(mean_len >= 3 AND mean_len <= 10 AS INT) AS r_word_len,
        |  CAST(hashr <= 0.1 AS INT) AS r_hash,
        |  CAST(ellr <= 0.1 AS INT) AS r_ellipsis,
        |  CAST(bulletf < 0.9 AS INT) AS r_bullet,
        |  CAST(elinef < 0.3 AS INT) AS r_ellipsis_line,
        |  CAST(alphaf >= 0.8 AS INT) AS r_alpha,
        |  CAST(nstop >= 2 AS INT) AS r_stop,
        |  CAST(nw BETWEEN 50 AND 100000 AND mean_len >= 3 AND mean_len <= 10
        |    AND hashr <= 0.1 AND ellr <= 0.1 AND bulletf < 0.9
        |    AND elinef < 0.3 AND alphaf >= 0.8 AND nstop >= 2 AS INT) AS keep
        |FROM g ORDER BY doc_id""".stripMargin,

    // decontamination mirror: distinct 3-grams both sides, overlap ids
    // dropped via NOT IN.
    "q_decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))))
        |        AS s FROM d),
        |c AS (SELECT DISTINCT s FROM g WHERE doc_id < 3),
        |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN c USING (s))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        |ORDER BY doc_id""".stripMargin,

    // graded-contamination mirror: same distinct-shingle stream, LEFT
    // join membership, per-doc counts; shingle-less docs → zeros.
    "q_contamination_frac" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))))
        |        AS s FROM d),
        |c AS (SELECT DISTINCT s, 1 AS hit FROM g WHERE doc_id < 3),
        |agg AS (SELECT g.doc_id,
        |          CAST(count(*) AS BIGINT) AS n_shingles,
        |          CAST(sum(coalesce(c.hit, 0)) AS BIGINT) AS n_contaminated
        |        FROM g LEFT JOIN c USING (s) GROUP BY g.doc_id)
        |SELECT doc_id,
        | coalesce(n_shingles, 0) AS n_shingles,
        | coalesce(n_contaminated, 0) AS n_contaminated,
        | CASE WHEN coalesce(n_shingles, 0) > 0
        |   THEN round(CAST(n_contaminated AS DOUBLE)
        |          / CAST(n_shingles AS DOUBLE), 6)
        |   ELSE 0.0 END AS contamination_frac
        |FROM documents LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // BM25 mirror: same stats (ln idf recomputed in SQL — the round-6
    // on the score absorbs any last-ulp libm difference from the
    // driver-baked literals), same scoring arithmetic term for term
    // with explicit DOUBLE casts.
    "q_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, CAST(dl AS INT) AS dl, bm25
         |FROM bm ORDER BY doc_id""".stripMargin,

    "q_tfidf" -> {
      val tfs = bm25Terms.indices.map(i =>
        s"len(list_filter(t, x -> x = '${bm25Terms(i)}')) AS tf$i")
        .mkString(", ")
      val dfs = bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val scores = bm25Terms.indices.map(i =>
        s"""round(CAST(tf$i AS DOUBLE) *
           |  (ln(CAST(1 + n AS DOUBLE) / CAST(1 + df$i AS DOUBLE))
           |   + CAST(1.0 AS DOUBLE)), 6) AS tfidf_$i""".stripMargin)
        .mkString(",\n ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
         |           FROM documents),
         |s AS (SELECT doc_id, $tfs FROM d),
         |g AS (SELECT count(*) AS n, $dfs FROM s)
         |SELECT doc_id,
         | $scores
         |FROM s CROSS JOIN g ORDER BY doc_id""".stripMargin
    },

    // per-language retrieval: ranking happens on the ROUNDED score both
    // sides, so last-ulp idf differences cannot reorder ties (id asc
    // breaks them, matching TopKByScore).
    "q_bm25_topk" ->
      s"""WITH $bm25Ctes,
         |r AS (SELECT lang, doc_id, bm25,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY bm25 DESC, doc_id) AS rank FROM bm)
         |SELECT lang, CAST(rank AS INT) AS rank, doc_id, bm25
         |FROM r WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,

    // centroid-similarity mirror: per-(label, dim) averages, cosine of
    // the mean vectors, strict upper triangle.
    "q_domain_centroids" ->
      """WITH x AS (SELECT label, generate_subscripts(embedding, 1) AS i,
        |        unnest(embedding)::DOUBLE AS v FROM embeddings),
        |c AS (SELECT label, i, avg(v) AS m FROM x GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |        sum(a.m * b.m)
        |          / (sqrt(sum(a.m * a.m)) * sqrt(sum(b.m * b.m))) AS cos
        |      FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT label_a, label_b, round(cos, 6) AS cos
        |FROM p ORDER BY label_a, label_b""".stripMargin,

    // RRF mirror: both input rankings on the ROUNDED score (id asc tie
    // break, matching TopKByScore), absence contributes 0 (UNION ALL +
    // GROUP BY, not a worst-rank fill); the DOUBLE cast keeps DuckDB
    // off decimal arithmetic for 1.0/(60+r).
    "q_rrf_fusion" ->
      s"""WITH $bm25Ctes,
         |lexr AS (SELECT doc_id, row_number() OVER
         |           (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
         |lex AS (SELECT doc_id, r FROM lexr WHERE r <= 10),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |x AS (SELECT vec_id, unnest(q)::DOUBLE AS a,
         |        unnest(embedding)::DOUBLE AS b
         |      FROM embeddings, qv WHERE vec_id != 0),
         |c AS (SELECT vec_id,
         |        round(sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))), 6) AS cos
         |      FROM x GROUP BY 1),
         |vecr AS (SELECT vec_id AS doc_id, row_number() OVER
         |           (ORDER BY cos DESC, vec_id) AS r FROM c),
         |vec AS (SELECT doc_id, r FROM vecr WHERE r <= 10),
         |u AS (SELECT doc_id, r FROM lex UNION ALL
         |      SELECT doc_id, r FROM vec),
         |f AS (SELECT doc_id,
         |        sum(CAST(1.0 AS DOUBLE) / (60 + r)) AS rrf,
         |        count(*) AS n_lists
         |      FROM u GROUP BY 1),
         |rk AS (SELECT doc_id, rrf, n_lists, row_number() OVER
         |         (ORDER BY round(rrf, 9) DESC, doc_id) AS rank FROM f)
         |SELECT CAST(rank AS INT) AS rank, doc_id, round(rrf, 6) AS rrf,
         |       CAST(n_lists AS BIGINT) AS n_lists
         |FROM rk WHERE rank <= 5 ORDER BY rank""".stripMargin,

    // CMS invariant mirror: exact top-5 token counts + TRUE guarantee
    // literals.
    "q_heavy_tokens_cms" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |top AS (SELECT token, count(*) AS true_count FROM tok
        |        GROUP BY 1 ORDER BY true_count DESC, token LIMIT 5)
        |SELECT token, true_count, TRUE AS cms_lower_bound_ok,
        |       TRUE AS cms_eps_bound_ok
        |FROM top ORDER BY token""".stripMargin,

    // (q_sequence_packing / q_bpe_tokens oracles are GENERATED — the
    // learned merge table embeds as VALUES: see trainedBpeOracle.)

    // corpus report mirror: CUBE with the same quality composite.
    "q_corpus_report" ->
      """WITH d AS (SELECT source, lang, string_split(text, ' ') AS t
        |           FROM documents),
        |s AS (SELECT source, lang, len(t) AS n_tokens,
        |  ((CASE WHEN len(t) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
        |    + least(len(list_distinct(t)) * 1.0 / len(t) * 2.0, 1.0))
        |   + CASE WHEN len(list_filter(t,
        |       x -> x IN ('the','a','of','and','to','in'))) * 1.0
        |         / len(t) > 0 THEN 1.0 ELSE 0.0 END) / 3.0 AS q
        | FROM d)
        |SELECT coalesce(source, '(all)') AS source,
        |       coalesce(lang, '(all)') AS lang,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       round(avg(q), 6) AS mean_quality
        |FROM s GROUP BY CUBE (source, lang)
        |ORDER BY source, lang""".stripMargin,

    // bit-length buckets via bin() (verbatim in both engines), packing
    // arithmetic per (source, bucket) — mirrors packLengthBuckets.
    "q_pack_length_buckets" ->
      """WITH d AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |b AS (SELECT doc_id, source, n_tokens,
        |        CAST(len(bin(CAST(greatest(n_tokens, 1) AS BIGINT)))
        |          AS INT) AS len_bucket FROM d),
        |c AS (SELECT doc_id, source, n_tokens, len_bucket,
        |        sum(n_tokens) OVER (PARTITION BY source, len_bucket
        |          ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM b)
        |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
        | len_bucket,
        | CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(256 AS DOUBLE))
        |   AS INT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    // A-ES weighted sample mirror: the same md5-60-bit uniform,
    // log-space key ln(u)/w, rank on the ROUNDED key with id tiebreak.
    "q_weighted_sample" ->
      """WITH d AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |           FROM documents),
        |k AS (SELECT doc_id, w,
        |        round(ln((('0x' || substr(md5('aes' ||
        |            CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |            + CAST(0.5 AS DOUBLE)) / 1152921504606846976.0)
        |          / CAST(w AS DOUBLE), 6) AS aes_key
        |      FROM d),
        |r AS (SELECT doc_id, w, aes_key, row_number()
        |        OVER (ORDER BY aes_key DESC, doc_id) AS rn FROM k)
        |SELECT doc_id, w, aes_key FROM r WHERE rn <= 100
        |ORDER BY doc_id""".stripMargin,

    // Neyman mirror: same per-stratum moments (sd rounded at the
    // handoff), same largest-remainder arithmetic and tie order
    "q_neyman_allocation" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |    round(coalesce(stddev_pop(CAST(n_chars AS DOUBLE)), 0.0), 6)
        |      AS sd FROM documents GROUP BY source),
        |w AS (SELECT *, CAST(n_rows AS DOUBLE) * sd AS wt FROM s),
        |t AS (SELECT round(sum(wt), 6) AS W,
        |    CAST(sum(n_rows) AS BIGINT) AS N FROM w),
        |e AS (SELECT w.*, CASE WHEN t.W > 0 THEN 200.0 * wt / t.W
        |    ELSE 200.0 * CAST(n_rows AS DOUBLE) / CAST(t.N AS DOUBLE)
        |    END AS ee FROM w, t),
        |b AS (SELECT *, CAST(floor(ee) AS BIGINT) AS base,
        |    ee - floor(ee) AS rem FROM e),
        |t2 AS (SELECT CAST(sum(base) AS BIGINT) AS SB FROM b),
        |r AS (SELECT b.*, t2.SB,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM b, t2)
        |SELECT source, n_rows, sd,
        |  least(base + CASE WHEN rk <= 200 - SB THEN 1 ELSE 0 END,
        |    n_rows) AS n_alloc
        |FROM r ORDER BY source""".stripMargin,

    // sample mirror: per-stratum hash rank (desc, id-asc ties — the
    // TopKByScore order) bounded by the allocation
    "q_neyman_sample" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |    round(coalesce(stddev_pop(CAST(n_chars AS DOUBLE)), 0.0), 6)
        |      AS sd FROM documents GROUP BY source),
        |w AS (SELECT *, CAST(n_rows AS DOUBLE) * sd AS wt FROM s),
        |t AS (SELECT round(sum(wt), 6) AS W,
        |    CAST(sum(n_rows) AS BIGINT) AS N FROM w),
        |e AS (SELECT w.*, CASE WHEN t.W > 0 THEN 200.0 * wt / t.W
        |    ELSE 200.0 * CAST(n_rows AS DOUBLE) / CAST(t.N AS DOUBLE)
        |    END AS ee FROM w, t),
        |b AS (SELECT *, CAST(floor(ee) AS BIGINT) AS base,
        |    ee - floor(ee) AS rem FROM e),
        |t2 AS (SELECT CAST(sum(base) AS BIGINT) AS SB FROM b),
        |alloc AS (SELECT source,
        |    least(base + CASE WHEN
        |      row_number() OVER (ORDER BY rem DESC, source) <= 200 - SB
        |      THEN 1 ELSE 0 END, n_rows) AS n_alloc
        |  FROM b, t2),
        |rnk AS (SELECT d.source, d.doc_id,
        |    row_number() OVER (PARTITION BY d.source ORDER BY
        |      (('0x' || substr(md5('neyman' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000000000) DESC, d.doc_id) AS rk
        |  FROM documents d)
        |SELECT r.source, CAST(r.rk AS INT) AS rank, r.doc_id
        |FROM rnk r JOIN alloc a ON r.source = a.source
        |WHERE r.rk <= a.n_alloc
        |ORDER BY r.source, rank""".stripMargin,

    // blocking-quality mirror: candidates from the SAME linkage pair
    // CTEs, truth from the SAME minhash pair CTEs the dedup gates use
    "q_blocking_quality" ->
      s"""WITH RECURSIVE ${DedupQueries.minhashPairCtes},
         |${graft.relational.RelationalQueries.linkagePairsSql},
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM linkpairs),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM pairs),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS truth_found
         |  FROM pairs p JOIN linkpairs l
         |    ON p.id_a = l.id_a AND p.id_b = l.id_b)
         |SELECT n_docs, n_candidates,
         |  round(1.0 - CASE WHEN n_docs < 2 THEN NULL
         |    ELSE CAST(n_candidates AS DOUBLE)
         |      / (CAST(n_docs * (n_docs - 1) AS DOUBLE) / 2.0) END, 6)
         |    AS reduction_ratio,
         |  n_truth, truth_found,
         |  round(CASE WHEN n_truth = 0 THEN NULL
         |    ELSE CAST(truth_found AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |    END, 6) AS pair_completeness
         |FROM n, c, t, f""".stripMargin,

    // manifest-diff mirror: the same two h60 bit_xor manifests, the
    // same full-outer status CASE
    "q_shard_delta" ->
      """WITH curm AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    bit_xor(('0x' || substr(md5('sink' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS checksum
        |  FROM documents GROUP BY source),
        |prevm AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    bit_xor(('0x' || substr(md5('sink' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS checksum
        |  FROM documents
        |  WHERE doc_id % 17 <> 0 AND source <> 'src0' GROUP BY source
        |  UNION ALL
        |  SELECT 'src_retired', CAST(5 AS BIGINT), CAST(123456789 AS BIGINT)),
        |d AS (SELECT coalesce(p.source, c.source) AS source,
        |    CASE WHEN p.checksum IS NULL THEN 'added'
        |      WHEN c.checksum IS NULL THEN 'removed'
        |      WHEN p.checksum = c.checksum AND p.n_docs = c.n_docs
        |        THEN 'unchanged'
        |      ELSE 'changed' END AS status,
        |    coalesce(p.n_docs, 0) AS n_prev,
        |    coalesce(c.n_docs, 0) AS n_cur
        |  FROM prevm p FULL OUTER JOIN curm c ON p.source = c.source)
        |SELECT source, status, n_prev, n_cur FROM d
        |ORDER BY source""".stripMargin,

    // bootstrap mirror: identical integer thresholds (generated from
    // the same list), same rounded replica-mean handoff, quantile_cont
    // = Spark's interpolated percentile
    "q_bootstrap_ci" -> {
      val w = graft.metrics.Bootstrap.poissonWeightSql("d.doc_id", "r.rep", "boot")
      s"""WITH reps AS (SELECT range AS rep FROM range(0, 50)),
         |e AS (SELECT d.source, CAST(d.n_chars AS DOUBLE) AS v, r.rep,
         |    $w AS w
         |  FROM documents d CROSS JOIN reps r),
         |m AS (SELECT source, rep,
         |    CASE WHEN sum(w) = 0 THEN NULL
         |      ELSE round(sum(w * v) / CAST(sum(w) AS DOUBLE), 6)
         |    END AS mm
         |  FROM e GROUP BY source, rep),
         |p AS (SELECT source, round(quantile_cont(mm, 0.025), 6) AS ci_lo,
         |    round(quantile_cont(mm, 0.975), 6) AS ci_hi,
         |    CAST(count(*) AS BIGINT) AS n_replicas
         |  FROM m WHERE mm IS NOT NULL GROUP BY source),
         |pt AS (SELECT source, round(avg(CAST(n_chars AS DOUBLE)), 6)
         |    AS mean FROM documents GROUP BY source)
         |SELECT p.source, mean, ci_lo, ci_hi, n_replicas
         |FROM p JOIN pt USING (source) ORDER BY source""".stripMargin
    },

    // pack offsets mirror: the same cumulative arithmetic, offset =
    // cumBefore - pack_id * budget
    "q_pack_offsets" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INT) AS nt
        |  FROM documents),
        |c AS (SELECT doc_id, source, nt,
        |    sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |p AS (SELECT doc_id, source, nt, cum,
        |    CAST(floor(CAST(cum - nt AS DOUBLE) / CAST(512 AS DOUBLE))
        |      AS INT) AS pack_id FROM c)
        |SELECT doc_id, source, nt AS n_tokens, pack_id,
        |  CAST(cum - nt - pack_id * 512 AS INT) AS pack_offset
        |FROM p ORDER BY doc_id""".stripMargin,

    // padding waste mirror: greatest(0, budget - pack tokens) summed
    // per source
    "q_padding_waste" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INT) AS nt
        |  FROM documents),
        |c AS (SELECT doc_id, source, nt,
        |    sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |p AS (SELECT source,
        |    CAST(floor(CAST(cum - nt AS DOUBLE) / CAST(512 AS DOUBLE))
        |      AS INT) AS pack_id, nt FROM c),
        |pk AS (SELECT source, pack_id, CAST(sum(nt) AS BIGINT) AS pt
        |  FROM p GROUP BY source, pack_id)
        |SELECT source, count(*) AS n_packs,
        |  CAST(sum(pt) AS BIGINT) AS total_tokens,
        |  CAST(sum(greatest(0, 512 - pt)) AS BIGINT) AS padding_waste,
        |  round(CAST(sum(greatest(0, 512 - pt)) AS DOUBLE)
        |    / CAST(count(*) * 512 AS DOUBLE), 6) AS waste_frac
        |FROM pk GROUP BY source ORDER BY source""".stripMargin,

    // Feistel epoch-shuffle mirror: the same 4 rounds replayed in
    // integer arithmetic — md5-60-bit round function masked to 30
    // bits, xor/shift recombination, perm % 8 sharding.
    "q_epoch_shuffle" ->
      """WITH e AS (SELECT d.doc_id, t.epoch
        |           FROM documents d
        |           CROSS JOIN (SELECT unnest([0, 1]) AS epoch) t),
        |r0 AS (SELECT doc_id, epoch,
        |         (doc_id >> 30) & 1073741823 AS l,
        |         doc_id & 1073741823 AS r FROM e),
        |r1 AS (SELECT doc_id, epoch, r AS l,
        |         xor(l, ('0x' || substr(md5('es8:' ||
        |             CAST(epoch AS VARCHAR) || ':0:' ||
        |             CAST(r AS VARCHAR)), 1, 15))::BIGINT
        |           & 1073741823) AS r FROM r0),
        |r2 AS (SELECT doc_id, epoch, r AS l,
        |         xor(l, ('0x' || substr(md5('es8:' ||
        |             CAST(epoch AS VARCHAR) || ':1:' ||
        |             CAST(r AS VARCHAR)), 1, 15))::BIGINT
        |           & 1073741823) AS r FROM r1),
        |r3 AS (SELECT doc_id, epoch, r AS l,
        |         xor(l, ('0x' || substr(md5('es8:' ||
        |             CAST(epoch AS VARCHAR) || ':2:' ||
        |             CAST(r AS VARCHAR)), 1, 15))::BIGINT
        |           & 1073741823) AS r FROM r2),
        |r4 AS (SELECT doc_id, epoch, r AS l,
        |         xor(l, ('0x' || substr(md5('es8:' ||
        |             CAST(epoch AS VARCHAR) || ':3:' ||
        |             CAST(r AS VARCHAR)), 1, 15))::BIGINT
        |           & 1073741823) AS r FROM r3)
        |SELECT doc_id, CAST(epoch AS INT) AS epoch,
        |  CAST(((l << 30) | r) % 8 AS INT) AS shard,
        |  (l << 30) | r AS pos
        |FROM r4 ORDER BY epoch, shard, pos""".stripMargin,

    // budget-prefix mirror: the naive global-window form of the
    // two-stage selection — sum(tokens) OVER (ORDER BY score DESC, id)
    // <= budget; quality expression copied from q_corpus_report.
    "q_budget_select" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |s AS (SELECT doc_id,
        |  round(((CASE WHEN len(t) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
        |    + least(len(list_distinct(t)) * 1.0 / len(t) * 2.0, 1.0))
        |   + CASE WHEN len(list_filter(t,
        |       x -> x IN ('the','a','of','and','to','in'))) * 1.0
        |         / len(t) > 0 THEN 1.0 ELSE 0.0 END) / 3.0, 6) AS score_r,
        |  CAST(len(t) AS BIGINT) AS n_units FROM d),
        |c AS (SELECT doc_id, score_r, n_units,
        |        sum(n_units) OVER (ORDER BY score_r DESC, doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum FROM s)
        |SELECT doc_id, score_r, n_units FROM c WHERE cum <= 12000
        |ORDER BY doc_id""".stripMargin,

    "q_anneal_phases" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |s AS (SELECT doc_id,
        |  round(((CASE WHEN len(t) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
        |    + least(len(list_distinct(t)) * 1.0 / len(t) * 2.0, 1.0))
        |   + CASE WHEN len(list_filter(t,
        |       x -> x IN ('the','a','of','and','to','in'))) * 1.0
        |         / len(t) > 0 THEN 1.0 ELSE 0.0 END) / 3.0, 6) AS score_r,
        |  CAST(len(t) AS BIGINT) AS n_units FROM d),
        |c AS (SELECT doc_id, score_r, n_units,
        |        sum(n_units) OVER (ORDER BY score_r DESC, doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum FROM s)
        |SELECT doc_id, score_r, n_units,
        | CASE WHEN cum <= 5000 THEN 'anneal' ELSE 'main' END AS phase
        |FROM c ORDER BY doc_id""".stripMargin,

    // LM scoring oracle: retrain the same unigram/bigram counts on the
    // en slice in SQL, replay the interpolation arithmetic per token.
    "q_lm_perplexity" ->
      """WITH reft AS (SELECT string_split(text, ' ') AS t
        |              FROM documents WHERE lang = 'en'),
        |rtok AS (SELECT unnest(t) AS w FROM reft),
        |uni AS (SELECT w, count(*) AS cw FROM rtok GROUP BY w),
        |rbig AS (SELECT unnest(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1])) AS bg
        |         FROM reft WHERE len(t) >= 2),
        |bi AS (SELECT bg, count(*) AS cb FROM rbig GROUP BY bg),
        |tot AS (SELECT (SELECT count(*) FROM rtok) AS n_ref,
        |               (SELECT count(*) FROM uni) AS v_size),
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |posi AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM d),
        |pw AS (SELECT doc_id, t[i] AS w,
        |        CASE WHEN i > 1 THEN t[i-1] END AS prev FROM posi),
        |j AS (SELECT pw.doc_id, pw.w, pw.prev, uni.cw, up.cw AS cprev, bi.cb
        |      FROM pw
        |      LEFT JOIN uni ON uni.w = pw.w
        |      LEFT JOIN uni up ON up.w = pw.prev
        |      LEFT JOIN bi ON bi.bg = pw.prev || ' ' || pw.w),
        |sc AS (SELECT doc_id,
        |        CASE WHEN prev IS NULL
        |         THEN CAST(coalesce(cw, 0) + 1 AS DOUBLE)
        |              / CAST(n_ref + v_size AS DOUBLE)
        |         ELSE 0.9 * (CASE WHEN cprev IS NOT NULL
        |                 THEN CAST(coalesce(cb, 0) AS DOUBLE)
        |                      / CAST(cprev AS DOUBLE)
        |                 ELSE 0.0 END)
        |            + 0.1 * (CAST(coalesce(cw, 0) + 1 AS DOUBLE)
        |                     / CAST(n_ref + v_size AS DOUBLE))
        |        END AS p
        |       FROM j, tot)
        |SELECT doc_id, count(*) AS n_tokens, round(-avg(ln(p)), 6) AS nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Kneser-Ney oracle: retrain in SQL — context totals / follower
    // fan-outs / continuation counts all re-derived from the bigram
    // count CTE; discount arithmetic replicated operand-for-operand
    // (bare decimals CAST to DOUBLE — DuckDB parses them as DECIMAL).
    "q_lm_kneser_ney" ->
      """WITH reft AS (SELECT string_split(text, ' ') AS t
        |              FROM documents WHERE lang = 'en'),
        |uni AS (SELECT w, count(*) AS cw FROM
        |         (SELECT unnest(t) AS w FROM reft) GROUP BY w),
        |rbig AS (SELECT unnest(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1])) AS bg
        |         FROM reft WHERE len(t) >= 2),
        |bi AS (SELECT bg, count(*) AS cb FROM rbig GROUP BY bg),
        |ctx AS (SELECT string_split(bg, ' ')[1] AS prev,
        |         CAST(sum(cb) AS BIGINT) AS cctx, count(*) AS n1f
        |        FROM bi GROUP BY 1),
        |cont AS (SELECT string_split(bg, ' ')[2] AS w, count(*) AS n1b
        |         FROM bi GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM bi) AS n_bi_types,
        |               (SELECT count(*) FROM uni) AS v_size),
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |posi AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM d),
        |pw AS (SELECT doc_id, t[i] AS w,
        |        CASE WHEN i > 1 THEN t[i-1] END AS prev FROM posi),
        |j AS (SELECT pw.doc_id, pw.w, pw.prev, cont.n1b, ctx.cctx,
        |        ctx.n1f, bi.cb,
        |        CAST(coalesce(cont.n1b, 0) + 1 AS DOUBLE)
        |          / CAST(n_bi_types + v_size AS DOUBLE) AS pcont
        |      FROM pw
        |      LEFT JOIN cont ON cont.w = pw.w
        |      LEFT JOIN ctx ON ctx.prev = pw.prev
        |      LEFT JOIN bi ON bi.bg = pw.prev || ' ' || pw.w
        |      CROSS JOIN tot),
        |sc AS (SELECT doc_id,
        |        CASE WHEN prev IS NULL OR cctx IS NULL THEN pcont
        |         ELSE greatest(CAST(coalesce(cb, 0) AS DOUBLE)
        |                - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        |              / CAST(cctx AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(n1f AS DOUBLE)
        |              / CAST(cctx AS DOUBLE) * pcont
        |        END AS p
        |       FROM j)
        |SELECT doc_id, count(*) AS n_tokens, round(-avg(ln(p)), 6) AS nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // per-language LM oracle: the same retrain-in-SQL with lang carried
    // through every count, join, and total (shared CTE chain).
    "q_lm_perplexity_perlang" ->
      ("WITH " + perLangNllCtes +
        "\nSELECT doc_id, lang, n_tokens, nll FROM lmn ORDER BY doc_id"),

    // CCNet terciles: per-language quantile_cont cutoffs on the rounded
    // NLL (the same interpolated definition as Spark's percentile),
    // rounded before the boundary compare on both sides.
    "q_ccnet_buckets" ->
      ("WITH " + perLangNllCtes + """,
        |cuts AS (SELECT lang,
        |   round(quantile_cont(nll, CAST(0.3333333333333333 AS DOUBLE)), 6)
        |     AS c1,
        |   round(quantile_cont(nll, CAST(0.6666666666666666 AS DOUBLE)), 6)
        |     AS c2
        |  FROM lmn GROUP BY lang)
        |SELECT n.doc_id, n.lang, n.n_tokens, n.nll,
        |  CASE WHEN n.nll <= c.c1 THEN 'head'
        |       WHEN n.nll <= c.c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM lmn n JOIN cuts c USING (lang) ORDER BY n.doc_id""".stripMargin),

    // Winnowing oracle: the same k-gram md5-60-bit hashes as lists,
    // each window start sliced out, min + rightmost-tie position via
    // list_position over the reversed slice; short docs (< w hashes)
    // winnow as one window, mirroring Spark.
    "q_winnowing" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS n
        |           FROM documents WHERE len(text) >= 12),
        |h AS (SELECT doc_id, list_transform(range(1, n - 12 + 2),
        |        i -> ('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT)
        |        AS hs
        |      FROM d),
        |wins AS (SELECT doc_id, hs, len(hs) AS nh,
        |          unnest(range(1, greatest(len(hs) - 8 + 1, 1) + 1)) AS s
        |         FROM h),
        |sel AS (SELECT doc_id, s,
        |         list_slice(hs, s, least(s + 8 - 1, nh)) AS sl
        |        FROM wins),
        |fp AS (SELECT doc_id,
        |        s + (len(sl) - list_position(list_reverse(sl), list_min(sl)))
        |          AS pos1,
        |        list_min(sl) AS fp
        |       FROM sel)
        |SELECT DISTINCT doc_id, pos1 - 1 AS pos, fp
        |FROM fp ORDER BY doc_id, pos""".stripMargin,

    // PMI collocations: integer uni/bi counts, the ratio computed
    // operand-for-operand as in Spark ((cb/Nbi) / ((ca/Nuni)·(cbu/Nuni))),
    // top-k on (rounded pmi DESC, bg) — a total order.
    "q_glove_cooc" ->
      """WITH d AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS t FROM documents),
        |tk AS MATERIALIZED (SELECT doc_id, t,
        |    unnest(range(len(t))) AS pos FROM d),
        |pr AS MATERIALIZED (SELECT doc_id, t, pos, unnest(range(
        |      CASE WHEN pos - 2 > 0 THEN pos - 2 ELSE 0 END,
        |      CASE WHEN pos + 3 < len(t) THEN pos + 3 ELSE len(t) END))
        |    AS cp
        |  FROM tk)
        |SELECT t[pos + 1] AS center, t[cp + 1] AS context,
        |  round(sum(CAST(1 AS DOUBLE) / abs(pos - cp)), 6) AS x,
        |  CAST(count(*) AS BIGINT) AS n_cooc
        |FROM pr WHERE cp <> pos
        |GROUP BY 1, 2
        |HAVING round(sum(CAST(1 AS DOUBLE) / abs(pos - cp)), 6) >= 1.5
        |ORDER BY center, context""".stripMargin,

    // ALS trajectory replay: chained normal-equation + nested-Cholesky
    // CTEs, every handoff rounded exactly where the engine rounds
    // (Glove.fit doc).
    "q_glove_fit" ->
      s"""WITH ${Glove.gloveCteSql(d = 2)}
         |SELECT token, role, f1, f2 FROM gfinal
         |ORDER BY role, token""".stripMargin,

    "q_glove_fit_d8" ->
      s"""WITH ${Glove.gloveCteSql(d = 8)}
         |SELECT token, role, ${(1 to 8).map(i => s"f$i").mkString(", ")}
         |FROM gfinal
         |ORDER BY role, token""".stripMargin,

    // fit CTEs chained into the brute-force cosine ranking (the
    // q_ann_topk convention): rank on ROUND-6 cosine then token asc —
    // Ann.knnGraph quantizes before its bounded heap.
    "q_glove_knn" ->
      s"""WITH ${Glove.gloveCteSql(d = 2)},
         |gx AS (SELECT q.token AS src, c.token AS dst,
         |    round((q.f1 * c.f1 + q.f2 * c.f2)
         |      / (sqrt(q.f1 * q.f1 + q.f2 * q.f2)
         |        * sqrt(c.f1 * c.f1 + c.f2 * c.f2)), 6) AS cos
         |  FROM gw2 q JOIN gw2 c ON c.token != q.token),
         |gr AS (SELECT src, dst, cos,
         |    CAST(row_number() OVER (PARTITION BY src
         |      ORDER BY cos DESC, dst) AS INT) AS rank FROM gx)
         |SELECT src, rank, dst, cos FROM gr WHERE rank <= 3
         |ORDER BY src, rank""".stripMargin,

    "q_skipgram_pairs" ->
      """WITH d AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS t FROM documents),
        |tk AS MATERIALIZED (SELECT doc_id, t,
        |    unnest(range(len(t))) AS pos FROM d),
        |pr AS MATERIALIZED (SELECT doc_id, t, pos, unnest(range(
        |      CASE WHEN pos - 2 > 0 THEN pos - 2 ELSE 0 END,
        |      CASE WHEN pos + 3 < len(t) THEN pos + 3 ELSE len(t) END))
        |    AS cp
        |  FROM tk),
        |pos AS MATERIALIZED (SELECT doc_id AS doc, pos,
        |    t[pos + 1] AS center, cp AS ctx_pos, t[cp + 1] AS context
        |  FROM pr WHERE cp <> pos),
        |uni AS MATERIALIZED (SELECT w, count(*) AS c
        |  FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
        |wt AS MATERIALIZED (SELECT w,
        |    CAST(round(power(CAST(c AS DOUBLE), 0.75) * 1000000)
        |      AS BIGINT) AS wt FROM uni),
        |cum AS MATERIALIZED (SELECT w,
        |    sum(wt) OVER (ORDER BY w) - wt AS lo,
        |    sum(wt) OVER (ORDER BY w) AS hi FROM wt),
        |tot AS MATERIALIZED (SELECT CAST(sum(wt) AS BIGINT) AS tot
        |  FROM wt),
        |dr AS MATERIALIZED (SELECT doc, pos, center,
        |    ('0x' || substr(md5('sg' || CAST(doc AS VARCHAR) || ':' ||
        |      CAST(pos AS VARCHAR) || ':' || CAST(ctx_pos AS VARCHAR) ||
        |      ':0'), 1, 15))::BIGINT % tot.tot AS draw
        |  FROM pos CROSS JOIN tot WHERE doc < 40),
        |neg AS MATERIALIZED (SELECT dr.doc, dr.pos, dr.center,
        |    c.w AS context
        |  FROM dr JOIN cum c ON dr.draw >= c.lo AND dr.draw < c.hi)
        |SELECT doc, CAST(pos AS INT) AS pos, center, context, label
        |FROM (
        |  SELECT doc, pos, center, context, 1 AS label FROM pos
        |  WHERE doc < 40
        |  UNION ALL
        |  SELECT doc, pos, center, context, 0 AS label FROM neg)
        |ORDER BY doc, pos, label, context, center""".stripMargin,

    "q_token_pmi" ->
      """WITH dt AS (SELECT string_split(text, ' ') AS t FROM documents),
        |tot AS (SELECT CAST(sum(len(t)) AS BIGINT) AS n_uni,
        |   CAST(sum(CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END)
        |     AS BIGINT) AS n_bi FROM dt),
        |uni AS (SELECT w, count(*) AS cw FROM
        |         (SELECT unnest(t) AS w FROM dt) GROUP BY w),
        |bi AS (SELECT bg, count(*) AS cb FROM
        |         (SELECT unnest(list_transform(range(1, len(t)),
        |            i -> t[i] || ' ' || t[i+1])) AS bg
        |          FROM dt WHERE len(t) >= 2)
        |       GROUP BY bg HAVING count(*) >= 5),
        |j AS (SELECT bi.bg, bi.cb, ua.cw AS ca, ub.cw AS cbu
        |      FROM bi
        |      JOIN uni ua ON ua.w = string_split(bi.bg, ' ')[1]
        |      JOIN uni ub ON ub.w = string_split(bi.bg, ' ')[2])
        |SELECT bg, cb,
        |  round(ln((CAST(cb AS DOUBLE) / n_bi) /
        |    ((CAST(ca AS DOUBLE) / n_uni) * (CAST(cbu AS DOUBLE) / n_uni))),
        |    6) AS pmi
        |FROM j CROSS JOIN tot
        |ORDER BY pmi DESC, bg LIMIT 50""".stripMargin,

    // Chi-square drift: 2×B contingency on char-length buckets,
    // expected counts and contributions computed on UNROUNDED doubles,
    // rounded only in the output (mirrors distributionDrift).
    "q_corpus_drift" ->
      """WITH c AS (SELECT CAST(floor(len(text) / 100) AS BIGINT) AS bucket,
        |   CAST(count(*) FILTER (WHERE source IN
        |     ('src0','src1','src2','src3','src4')) AS BIGINT) AS ca,
        |   CAST(count(*) FILTER (WHERE source NOT IN
        |     ('src0','src1','src2','src3','src4')) AS BIGINT) AS cb
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb FROM c),
        |e AS (SELECT bucket, ca, cb,
        |   CAST(ca + cb AS DOUBLE) * CAST(na AS DOUBLE)
        |     / CAST(na + nb AS DOUBLE) AS exp_a,
        |   CAST(ca + cb AS DOUBLE) * CAST(nb AS DOUBLE)
        |     / CAST(na + nb AS DOUBLE) AS exp_b
        |  FROM c CROSS JOIN tot)
        |SELECT bucket, ca, cb, round(exp_a, 6) AS exp_a,
        |  round(exp_b, 6) AS exp_b,
        |  round((CAST(ca AS DOUBLE) - exp_a) * (CAST(ca AS DOUBLE) - exp_a)
        |      / exp_a
        |    + (CAST(cb AS DOUBLE) - exp_b) * (CAST(cb AS DOUBLE) - exp_b)
        |      / exp_b, 6) AS chi2
        |FROM e ORDER BY bucket""".stripMargin,

    // distinct-n mirror: DuckDB list arithmetic (1-based; range(a,b)
    // excludes b), list_distinct, DOUBLE casts, sub-n docs → NULL.
    "q_distinct_ngrams" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents),
        |g AS (SELECT doc_id, t,
        |  list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g2,
        |  list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
        |  FROM d)
        |SELECT doc_id,
        | CASE WHEN len(t) > 0 THEN round(CAST(len(list_distinct(t)) AS DOUBLE)
        |   / CAST(len(t) AS DOUBLE), 6) END AS d1,
        | CASE WHEN len(g2) > 0 THEN round(CAST(len(list_distinct(g2)) AS DOUBLE)
        |   / CAST(len(g2) AS DOUBLE), 6) END AS d2,
        | CASE WHEN len(g3) > 0 THEN round(CAST(len(list_distinct(g3)) AS DOUBLE)
        |   / CAST(len(g3) AS DOUBLE), 6) END AS d3
        |FROM g ORDER BY doc_id""".stripMargin,

    // KS mirror: ordered cumulative window over the same contingency,
    // supremum via row_number(dk DESC, bucket ASC).
    "q_psi" ->
      """WITH c AS (SELECT CAST(floor(len(text) / 100) AS BIGINT) AS bucket,
        |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        |      THEN 1 ELSE 0 END AS t
        |  FROM documents),
        |g AS (SELECT bucket, CAST(sum(t) AS BIGINT) AS ca,
        |    CAST(count(*) - sum(t) AS BIGINT) AS cb FROM c GROUP BY 1),
        |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS k FROM g)
        |SELECT bucket, ca, cb,
        |  round((ca + 0.5) / (na + 0.5 * k), 6) AS p_a,
        |  round((cb + 0.5) / (nb + 0.5 * k), 6) AS p_b,
        |  round(((ca + 0.5) / (na + 0.5 * k) - (cb + 0.5) / (nb + 0.5 * k))
        |    * ln(((ca + 0.5) / (na + 0.5 * k))
        |      / ((cb + 0.5) / (nb + 0.5 * k))), 6) AS psi_term
        |FROM g CROSS JOIN tt ORDER BY bucket""".stripMargin,
    "q_ks_statistic" ->
      """WITH c AS (SELECT CAST(floor(len(text) / 100) AS BIGINT) AS bucket,
        |   CAST(count(*) FILTER (WHERE source IN
        |     ('src0','src1','src2','src3','src4')) AS BIGINT) AS ca,
        |   CAST(count(*) FILTER (WHERE source NOT IN
        |     ('src0','src1','src2','src3','src4')) AS BIGINT) AS cb
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb FROM c),
        |cum AS (SELECT bucket,
        |   CAST(sum(ca) OVER (ORDER BY bucket
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
        |   CAST(sum(cb) OVER (ORDER BY bucket
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb FROM c),
        |d AS (SELECT bucket,
        |   abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
        |     - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)) AS dk
        |  FROM cum CROSS JOIN tot),
        |m AS (SELECT bucket, dk,
        |        row_number() OVER (ORDER BY dk DESC, bucket) AS rn FROM d)
        |SELECT round(dk, 6) AS d_ks, bucket AS at_bucket, na, nb
        |FROM m CROSS JOIN tot WHERE rn = 1""".stripMargin,

    // JS mirror: same contingency CTEs, contribution arithmetic written
    // operand-for-operand as the Spark expression (p·ln(p/m) with
    // m = (p+q)·0.5; zero-count terms drop to 0).
    "q_js_divergence" ->
      """WITH c AS (SELECT CAST(floor(len(text) / 100) AS BIGINT) AS bucket,
        |   CAST(count(*) FILTER (WHERE source IN
        |     ('src0','src1','src2','src3','src4')) AS BIGINT) AS ca,
        |   CAST(count(*) FILTER (WHERE source NOT IN
        |     ('src0','src1','src2','src3','src4')) AS BIGINT) AS cb
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb FROM c),
        |e AS (SELECT bucket, ca, cb,
        |   CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p,
        |   CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q
        |  FROM c CROSS JOIN tot)
        |SELECT bucket, ca, cb,
        |  round((CASE WHEN ca > 0
        |           THEN p * ln(p / ((p + q) * 0.5)) ELSE 0.0 END) * 0.5
        |      + (CASE WHEN cb > 0
        |           THEN q * ln(q / ((p + q) * 0.5)) ELSE 0.0 END) * 0.5,
        |    6) AS js_contrib
        |FROM e ORDER BY bucket""".stripMargin,


    // DSIR: full retrain-in-SQL — hashed gram buckets, add-one bucket
    // models over the 0..63 domain, per-doc logratio sums.
    "q_dsir_weights" -> (dsirWeightsSql +
      """
        |SELECT doc_id, n_grams, round(logw, 6) AS logw
        |FROM w ORDER BY doc_id""".stripMargin),

    "q_dsir_sample" -> (dsirWeightsSql +
      """, k AS (SELECT doc_id, round(logw - ln(-ln(
        |        (CAST(('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)),
        |           1, 13))::BIGINT AS DOUBLE) + 1) / 4503599627370497.0)),
        |        6) AS gkey FROM w),
        |sel AS (SELECT doc_id, gkey FROM k
        |        ORDER BY gkey DESC, doc_id LIMIT 100)
        |SELECT doc_id, gkey FROM sel ORDER BY doc_id""".stripMargin),

    // ground-truth repetition signals: explode word n-grams / "lines"
    // per document, count in SQL, mirror the max/sum/cap formulas.
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t,
        |             len(text) AS nc FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |         i -> array_to_string(t[i:i+1], ' '))) AS g FROM d),
        |c2 AS (SELECT doc_id, max(cnt * len(g)) AS top2,
        |         sum(CASE WHEN cnt >= 2 THEN cnt * len(g) ELSE 0 END) AS dup2
        |       FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
        |       GROUP BY 1),
        |g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |         i -> array_to_string(t[i:i+4], ' '))) AS g FROM d),
        |c5 AS (SELECT doc_id,
        |         sum(CASE WHEN cnt >= 2 THEN cnt * len(g) ELSE 0 END) AS dup5
        |       FROM (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2)
        |       GROUP BY 1),
        |l AS (SELECT doc_id, unnest(string_split(text, 'slow')) AS line FROM d),
        |lc AS (SELECT doc_id, line, count(*) AS cnt, len(line) AS ch
        |       FROM l GROUP BY 1, 2),
        |ls AS (SELECT doc_id, sum(cnt) AS n_lines,
        |         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dupc,
        |         sum(CASE WHEN cnt > 1 THEN cnt * ch ELSE 0 END) AS dupch,
        |         sum(cnt * ch) AS totch FROM lc GROUP BY 1)
        |SELECT d.doc_id,
        |  round(CASE WHEN d.nc = 0 THEN 0
        |    ELSE coalesce(c2.top2, 0) * 1.0 / d.nc END, 6) AS top2_char_frac,
        |  round(CASE WHEN d.nc = 0 THEN 0
        |    ELSE least(coalesce(c5.dup5, 0) * 1.0 / d.nc, 1.0) END, 6)
        |    AS dup5_char_frac,
        |  round(ls.dupc * 1.0 / ls.n_lines, 6) AS dup_line_frac,
        |  round(CASE WHEN ls.totch = 0 THEN 0
        |    ELSE ls.dupch * 1.0 / ls.totch END, 6) AS dup_line_char_frac
        |FROM d LEFT JOIN c2 USING (doc_id) LEFT JOIN c5 USING (doc_id)
        |JOIN ls USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // composition of the per-stage mirrors: q_lang_id's CASE chain,
    // q_text_quality's composite, q_doc_fingerprint's normalization,
    // q_hash_sample's md5 bucket, q_doc_chunks' start rule.
    "q_llm_pipeline" ->
      """WITH sc AS (SELECT doc_id, text,
        |  len(list_filter(string_split(text,' '), x -> x IN ('der','und','die'))) AS s_de,
        |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','of'))) AS s_en,
        |  len(list_filter(string_split(text,' '), x -> x IN ('el','la','y'))) AS s_es,
        |  len(list_filter(string_split(text,' '), x -> x IN ('le','et','les'))) AS s_fr,
        |  len(list_filter(string_split(text,' '), x -> x IN ('de','shi','bu'))) AS s_zh
        | FROM documents),
        |lq AS (SELECT doc_id, text,
        |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |       WHEN s_en >= greatest(s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |       WHEN s_es >= greatest(s_fr, s_zh) AND s_es > 0 THEN 'es'
        |       WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |       WHEN s_zh > 0 THEN 'zh' ELSE 'und' END AS lang,
        |  ((CASE WHEN len(string_split(text,' ')) BETWEEN 5 AND 10000
        |      THEN 1.0 ELSE 0.0 END
        |    + least(len(list_distinct(string_split(text,' ')))
        |        * 1.0 / len(string_split(text,' ')) * 2.0, 1.0))
        |   + CASE WHEN len(list_filter(string_split(text,' '),
        |       x -> x IN ('the','a','of','and','to','in'))) * 1.0
        |         / len(string_split(text,' ')) > 0 THEN 1.0 ELSE 0.0 END) / 3.0
        |    AS quality
        | FROM sc),
        |f AS (SELECT doc_id, text, lang, quality,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'),
        |      '\s+', ' ', 'g'))) AS fp
        |  FROM lq WHERE quality >= 0.5 AND lang = 'en'),
        |kept AS (SELECT f.doc_id, f.text, f.lang, f.quality
        |  FROM f JOIN (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp) r
        |    ON r.fp = f.fp AND r.doc_id = f.doc_id),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
        |st AS (SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 15)) AS start
        |       FROM tok),
        |ch AS (SELECT doc_id, count(*) AS n_chunks FROM st
        |  WHERE start = 0 OR start < len(t) - 5 GROUP BY doc_id)
        |SELECT k.doc_id, k.lang, round(k.quality, 6) AS quality,
        | CASE WHEN (('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |            % 1000000) < 900000
        |      THEN 'train' ELSE 'holdout' END AS split,
        | ch.n_chunks
        |FROM kept k JOIN ch USING (doc_id)
        |ORDER BY k.doc_id""".stripMargin,
    "q_vocab_size" ->
      """SELECT count(DISTINCT token) AS exact_vocab, TRUE AS approx_within_3rsd
        |FROM (SELECT unnest(string_split(text, ' ')) AS token
        |      FROM documents)""".stripMargin,
    "q_doc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 15)) AS start
        |      FROM d),
        |f AS (SELECT doc_id, t, start,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1 AS chunk_id
        |      FROM s WHERE start = 0 OR start < len(t) - 5)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, CAST(start AS INT) AS start,
        | CAST(len(t[start+1 : start+20]) AS INT) AS n_chunk_tokens,
        | md5(array_to_string(t[start+1 : start+20], ' ')) AS chunk_hash
        |FROM f ORDER BY doc_id, chunk_id""".stripMargin,
    "q_heavy_tokens" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |n AS (SELECT count(*) AS n FROM t)
        |SELECT token, count(*) AS exact_count,
        | TRUE AS found, TRUE AS bound_ok
        |FROM t, n GROUP BY token, n.n
        |HAVING count(*) > n.n / 41.0 ORDER BY token""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        | CAST(list_aggregate(list_transform(string_split(text, ' '),
        |   x -> CAST(ceil(len(x) / 4.0) AS INT)), 'sum') AS INT) AS n_bpe_tokens,
        | round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |   * 1.0 / length(text), 6) AS punct_ratio,
        | round(((CASE WHEN len(string_split(text,' ')) BETWEEN 5 AND 10000
        |          THEN 1.0 ELSE 0.0 END
        |   + least(len(list_distinct(string_split(text,' ')))
        |       * 1.0 / len(string_split(text,' ')) * 2.0, 1.0))
        |   + CASE WHEN len(list_filter(string_split(text,' '),
        |       x -> x IN ('the','a','of','and','to','in'))) * 1.0
        |         / len(string_split(text,' ')) > 0 THEN 1.0 ELSE 0.0 END) / 3.0,
        |  6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_inbatch_negatives" ->
      """WITH b AS (SELECT doc_id, lang,
        |    (('0x' || substr(md5('ibn' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |     % 64) AS batch
        |  FROM documents)
        |SELECT a.batch, a.doc_id AS anchor_id, n.doc_id AS neg_id
        |FROM b a JOIN b n ON a.batch = n.batch
        |WHERE a.doc_id != n.doc_id AND a.lang != n.lang
        |ORDER BY a.batch, anchor_id, neg_id""".stripMargin,

    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS anchor_id, embedding AS qe, label AS albl
        |           FROM embeddings WHERE vec_id < 8),
        |x AS (SELECT anchor_id, vec_id,
        |        unnest(qe)::DOUBLE AS a, unnest(embedding)::DOUBLE AS b
        |      FROM q, embeddings WHERE vec_id != anchor_id AND label != albl),
        |c AS (SELECT anchor_id, vec_id,
        |        round(sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))), 6) AS cos
        |      FROM x GROUP BY 1, 2),
        |r AS (SELECT anchor_id, vec_id, cos,
        |        row_number() OVER (PARTITION BY anchor_id
        |          ORDER BY cos DESC, vec_id) AS rank FROM c)
        |SELECT anchor_id, rank, vec_id AS neg_id, cos
        |FROM r WHERE rank <= 3 ORDER BY anchor_id, rank""".stripMargin,

    "q_shard_manifest" ->
      """SELECT (('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 8) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_size,
        |  bit_xor(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |    AS checksum
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,

    // roundtrip mirror: the manifest of the ORIGINAL table — written
    // files must aggregate back to exactly this
    "q_shard_write_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_size,
        |  bit_xor(('0x' || substr(md5('sink' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |    AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_source_gini" ->
      """WITH pk AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS w
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source, w,
        |        row_number() OVER (ORDER BY w, source) AS i,
        |        row_number() OVER (ORDER BY w DESC, source) AS rd FROM pk),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(w) AS tot,
        |        sum(w*w) AS ww, sum(i*w) AS iw,
        |        sum(CASE WHEN rd = 1 THEN w ELSE 0 END) AS top1,
        |        sum(CASE WHEN rd <= 3 THEN w ELSE 0 END) AS top3 FROM r)
        |SELECT 'gini' AS metric, round(2*iw/(n*tot) - (n+1)/n, 6) AS value FROM a
        |UNION ALL SELECT 'hhi', round(ww/(tot*tot), 6) FROM a
        |UNION ALL SELECT 'n_keys', n FROM a
        |UNION ALL SELECT 'top1_share', round(top1/tot, 6) FROM a
        |UNION ALL SELECT 'top3_share', round(top3/tot, 6) FROM a
        |ORDER BY metric""".stripMargin,
  ) ++ trainedBpeOracle ++ trainedUnigramOracle ++
    trainedQualityOracle ++ trainedLangIdOracle

  /** EXACT oracle for q_langid_trained (trainedQualityOracle pattern):
    * all K one-vs-rest weight vectors embed as VALUES, prediction is
    * the same rounded-margin argmax with class-asc tie break.
    */
  private def trainedLangIdOracle: Map[String, String] =
    LangIdClassifier.memoized match {
      case models :: Nil => Map(
        "q_langid_trained" ->
          s"""WITH ${LangIdClassifier.predictCteSql(models)}
             |SELECT d.doc_id, d.lang, p.pred_lang,
             | CAST(d.lang = p.pred_lang AS INT) AS correct
             |FROM documents d JOIN lpred p ON p.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)
      case _ => Map.empty
    }

  /** EXACT oracles for the trained-classifier gates: the learned
    * weights are a deterministic function of the dir and sit in
    * QualityClassifier's memo by generation time, so they embed as
    * VALUES; the margin replays as a per-token weight-sum
    * (QualityClassifier.marginCteSql). The v3 flagship oracle is the
    * v2 composition with the quality-composite stage swapped for the
    * classifier margin.
    */
  /** v5 oracle = the v4 composition with the DSIR stage spliced in via
    * anchored rewrites (each anchor REQUIRED present, so drift in the
    * v4 template fails loudly at generation time rather than silently
    * producing a stale v5).
    */
  private def v5FromV4(v4: String): String = {
    def rep(s: String, from: String, to: String): String = {
      require(s.contains(from), s"v5 oracle anchor missing: $from")
      s.replace(from, to)
    }
    var s = v4
    s = rep(s, "FROM kept3 k JOIN lmnll USING (doc_id)),",
      "FROM kept3 k JOIN lmnll USING (doc_id)),\n" + dsirWeightsCtes("ds") +
        ",\nkept3nd AS (SELECT k.*, dsw.logw FROM kept3n k JOIN dsw" +
        " USING (doc_id)\n" +
        "            WHERE round(dsw.logw, 6) > CAST(-0.5 AS DOUBLE)),")
    s = rep(s, "FROM kept3n GROUP BY 1)", "FROM kept3nd GROUP BY 1)")
    s = rep(s, "FROM kept3n k JOIN rt USING (lang)",
      "FROM kept3nd k JOIN rt USING (lang)")
    s = rep(s, "k.lang, k.margin, k.n_tokens, k.nll",
      "k.lang, k.margin, k.n_tokens, k.nll, k.logw")
    s = rep(s, "'mix4'", "'mix5'")
    s = rep(s, "pk AS (SELECT doc_id, source, lang, margin, n_tokens, nll,",
      "pk AS (SELECT doc_id, source, lang, margin, n_tokens, nll, logw,")
    s = rep(s, "round(nll, 6) AS nll,",
      "round(nll, 6) AS nll,\n round(logw, 6) AS logw,")
    s
  }

  /** Feistel epoch-shuffle CTE chain for composition (the SAME
    * integer arithmetic as the static q_epoch_shuffle oracle,
    * parameterized): rows of `src` × epochs, `carry` columns ride
    * along, final halves in fr4.(l, r) → perm = (l << 30) | r.
    */
  private def feistelCtesSql(src: String, carry: String, salt: String,
      epochs: Int): String = {
    val m = "1073741823"
    val rounds = (0 until 4).map { round =>
      s"""fr${round + 1} AS (SELECT $carry, epoch, r AS l,
         |  xor(l, ('0x' || substr(md5('$salt:' ||
         |      CAST(epoch AS VARCHAR) || ':$round:' ||
         |      CAST(r AS VARCHAR)), 1, 15))::BIGINT
         |    & $m) AS r FROM fr$round)""".stripMargin
    }.mkString(",\n")
    s"""es AS (SELECT $carry, t.epoch FROM ( $src ) __src
       |  CROSS JOIN (SELECT unnest([${(0 until epochs).mkString(", ")}])
       |    AS epoch) t),
       |fr0 AS (SELECT $carry, epoch,
       |  (doc_id >> 30) & $m AS l, doc_id & $m AS r FROM es),
       |$rounds""".stripMargin
  }

  private def trainedQualityOracle: Map[String, String] =
    QualityClassifier.memoized match {
      case (w, b) :: Nil =>
        val base = Map(
        "q_quality_classifier" ->
          s"""WITH ${QualityClassifier.marginCteSql(w, b)}
             |SELECT doc_id,
             | round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-margin)), 6)
             |   AS p_quality,
             | CAST(margin > 0 AS INT) AS pred
             |FROM qm ORDER BY doc_id""".stripMargin,
        "q_llm_pipeline_v3" ->
          s"""WITH ${QualityClassifier.marginCteSql(w, b)},
             |d0 AS (SELECT doc_id, source, text, string_split(text, ' ') AS t,
             |         len(text) AS nc FROM documents),
             |sc AS (SELECT doc_id, source, text, t, nc,
             |  len(list_filter(t, x -> x IN ('der','und','die'))) AS s_de,
             |  len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
             |  len(list_filter(t, x -> x IN ('el','la','y'))) AS s_es,
             |  len(list_filter(t, x -> x IN ('le','et','les'))) AS s_fr,
             |  len(list_filter(t, x -> x IN ('de','shi','bu'))) AS s_zh
             | FROM d0),
             |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
             |         i -> array_to_string(t[i:i+1], ' '))) AS g FROM d0),
             |c2 AS (SELECT doc_id,
             |         sum(CASE WHEN cnt >= 2 THEN cnt * len(g) ELSE 0 END) AS dup2
             |       FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
             |       GROUP BY 1),
             |lq AS (SELECT sc.doc_id, sc.source, sc.text, sc.t, sc.nc, qm.margin,
             |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
             |       WHEN s_en >= greatest(s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
             |       WHEN s_es >= greatest(s_fr, s_zh) AND s_es > 0 THEN 'es'
             |       WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
             |       WHEN s_zh > 0 THEN 'zh' ELSE 'und' END AS lang,
             |  CASE WHEN sc.nc = 0 THEN CAST(0.0 AS DOUBLE)
             |    ELSE least(CAST(coalesce(c2.dup2, 0) AS DOUBLE)
             |           / CAST(sc.nc AS DOUBLE), CAST(1.0 AS DOUBLE)) END AS dup2f
             | FROM sc LEFT JOIN c2 USING (doc_id) JOIN qm USING (doc_id)),
             |kept0 AS (SELECT doc_id, source, text, t, nc, lang, margin,
             |    len(t) AS n_tokens,
             |    md5(trim(regexp_replace(regexp_replace(lower(text),
             |      '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
             |  FROM lq WHERE margin > 0 AND dup2f <= CAST(0.15 AS DOUBLE)),
             |g3 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |         range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))))
             |         AS s3 FROM d0),
             |ev AS (SELECT DISTINCT s3 FROM g3 WHERE doc_id < 3),
             |hits AS (SELECT DISTINCT g3.doc_id FROM g3 JOIN ev USING (s3)
             |         JOIN kept0 k ON k.doc_id = g3.doc_id),
             |kept1 AS (SELECT * FROM kept0
             |          WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
             |reps AS (SELECT fp, min(doc_id) AS doc_id FROM kept1 GROUP BY fp),
             |kept2 AS (SELECT k.doc_id, k.source, k.lang, k.margin, k.n_tokens,
             |            CAST(k.nc AS INT) AS n_chars
             |          FROM kept1 k JOIN reps r ON r.fp = k.fp AND r.doc_id = k.doc_id),
             |gr AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS units
             |       FROM kept2 GROUP BY 1),
             |rt AS (SELECT lang, least(CAST(1.0 AS DOUBLE),
             |         CAST(CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4
             |              WHEN 'es' THEN 0.1 WHEN 'fr' THEN 0.2 WHEN 'zh' THEN 0.1
             |              ELSE 0.0 END AS DOUBLE)
             |           * CAST(30000 AS DOUBLE) / CAST(units AS DOUBLE)) AS rate
             |       FROM gr),
             |samp AS (SELECT k.doc_id, k.source, k.lang, k.margin, k.n_tokens
             |  FROM kept2 k JOIN rt USING (lang)
             |  WHERE (('0x' || substr(md5('mix2' || CAST(k.doc_id AS VARCHAR)), 1, 15))::BIGINT
             |         % 1000000)
             |    < floor(rate * CAST(1000000 AS DOUBLE))),
             |pk AS (SELECT doc_id, source, lang, margin, n_tokens,
             |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |           ROWS UNBOUNDED PRECEDING) AS cum FROM samp)
             |SELECT doc_id, source, lang,
             | round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-margin)), 6)
             |   AS p_quality,
             | CAST(n_tokens AS INT) AS n_tokens,
             | CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(512 AS DOUBLE))
             |   AS INT) AS pack_id
             |FROM pk ORDER BY doc_id""".stripMargin,
        "q_llm_pipeline_v4" ->
          s"""WITH ${QualityClassifier.marginCteSql(w, b)},
             |d0 AS (SELECT doc_id, source, text, string_split(text, ' ') AS t,
             |         len(text) AS nc FROM documents),
             |sc AS (SELECT doc_id, source, text, t, nc,
             |  len(list_filter(t, x -> x IN ('der','und','die'))) AS s_de,
             |  len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
             |  len(list_filter(t, x -> x IN ('el','la','y'))) AS s_es,
             |  len(list_filter(t, x -> x IN ('le','et','les'))) AS s_fr,
             |  len(list_filter(t, x -> x IN ('de','shi','bu'))) AS s_zh
             | FROM d0),
             |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
             |         i -> array_to_string(t[i:i+1], ' '))) AS g FROM d0),
             |c2 AS (SELECT doc_id,
             |         sum(CASE WHEN cnt >= 2 THEN cnt * len(g) ELSE 0 END) AS dup2
             |       FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2)
             |       GROUP BY 1),
             |lq AS (SELECT sc.doc_id, sc.source, sc.text, sc.t, sc.nc, qm.margin,
             |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
             |       WHEN s_en >= greatest(s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
             |       WHEN s_es >= greatest(s_fr, s_zh) AND s_es > 0 THEN 'es'
             |       WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
             |       WHEN s_zh > 0 THEN 'zh' ELSE 'und' END AS lang,
             |  CASE WHEN sc.nc = 0 THEN CAST(0.0 AS DOUBLE)
             |    ELSE least(CAST(coalesce(c2.dup2, 0) AS DOUBLE)
             |           / CAST(sc.nc AS DOUBLE), CAST(1.0 AS DOUBLE)) END AS dup2f
             | FROM sc LEFT JOIN c2 USING (doc_id) JOIN qm USING (doc_id)),
             |kept0 AS (SELECT doc_id, source, text, t, nc, lang, margin,
             |    len(t) AS n_tokens,
             |    md5(trim(regexp_replace(regexp_replace(lower(text),
             |      '[[:punct:]]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
             |  FROM lq WHERE margin > 0 AND dup2f <= CAST(0.15 AS DOUBLE)),
             |g3 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |         range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))))
             |         AS s3 FROM d0),
             |ev AS (SELECT DISTINCT s3 FROM g3 WHERE doc_id < 3),
             |hits AS (SELECT DISTINCT g3.doc_id FROM g3 JOIN ev USING (s3)
             |         JOIN kept0 k ON k.doc_id = g3.doc_id),
             |kept1 AS (SELECT * FROM kept0
             |          WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
             |reps AS (SELECT fp, min(doc_id) AS doc_id FROM kept1 GROUP BY fp),
             |kept2 AS (SELECT k.doc_id, k.source, k.lang, k.margin, k.n_tokens,
             |            CAST(k.nc AS INT) AS n_chars
             |          FROM kept1 k JOIN reps r ON r.fp = k.fp AND r.doc_id = k.doc_id),
             |ssg AS (SELECT doc_id, p, substring(text, p + 1, 25) AS gram FROM (
             |    SELECT doc_id, text,
             |     unnest(generate_series(0, CAST(nc AS INT) - 25, 1)) AS p
             |    FROM d0 WHERE nc >= 25)
             |  WHERE substring(md5(substring(text, p + 1, 25)), 1, 1) = '0'),
             |ssdup AS (SELECT gram FROM ssg GROUP BY gram HAVING count(*) > 1),
             |ssmk AS (SELECT doc_id, p FROM ssg
             |         WHERE gram IN (SELECT gram FROM ssdup)),
             |sswnd AS (SELECT doc_id, p,
             |      max(p + 25) OVER (PARTITION BY doc_id ORDER BY p
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
             |    FROM ssmk),
             |ssisl AS (SELECT doc_id, p,
             |      sum(CASE WHEN prev_e IS NULL OR p > prev_e THEN 1 ELSE 0 END)
             |        OVER (PARTITION BY doc_id ORDER BY p
             |              ROWS UNBOUNDED PRECEDING) AS island FROM sswnd),
             |sssp AS (SELECT doc_id, island, min(p) AS s0, max(p) + 25 AS e1
             |         FROM ssisl GROUP BY doc_id, island),
             |ssst AS (SELECT doc_id, CAST(sum(e1 - s0) AS BIGINT) AS dup_chars
             |         FROM sssp GROUP BY doc_id),
             |ssfrac AS (SELECT d0.doc_id,
             |      round(coalesce(ssst.dup_chars, 0) / CAST(d0.nc AS DOUBLE), 6)
             |        AS dup_frac
             |    FROM d0 LEFT JOIN ssst USING (doc_id)),
             |kept3 AS (SELECT k.* FROM kept2 k JOIN ssfrac f ON f.doc_id = k.doc_id
             |          WHERE f.dup_frac <= CAST(0.5 AS DOUBLE)),
             |lmreft AS (SELECT string_split(text, ' ') AS t
             |           FROM documents WHERE lang = 'en'),
             |lmrtok AS (SELECT unnest(t) AS w FROM lmreft),
             |lmuni AS (SELECT w, count(*) AS cw FROM lmrtok GROUP BY w),
             |lmrbig AS (SELECT unnest(list_transform(range(1, len(t)),
             |             i -> t[i] || ' ' || t[i+1])) AS bg
             |           FROM lmreft WHERE len(t) >= 2),
             |lmbi AS (SELECT bg, count(*) AS cb FROM lmrbig GROUP BY bg),
             |lmtot AS (SELECT (SELECT count(*) FROM lmrtok) AS n_ref,
             |                 (SELECT count(*) FROM lmuni) AS v_size),
             |lmposi AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM d0),
             |lmpw AS (SELECT doc_id, t[i] AS w,
             |          CASE WHEN i > 1 THEN t[i-1] END AS prev FROM lmposi),
             |lmj AS (SELECT lmpw.doc_id, lmpw.w, lmpw.prev, lmuni.cw,
             |          up.cw AS cprev, lmbi.cb
             |        FROM lmpw
             |        LEFT JOIN lmuni ON lmuni.w = lmpw.w
             |        LEFT JOIN lmuni up ON up.w = lmpw.prev
             |        LEFT JOIN lmbi ON lmbi.bg = lmpw.prev || ' ' || lmpw.w),
             |lmsc AS (SELECT doc_id,
             |        CASE WHEN prev IS NULL
             |         THEN CAST(coalesce(cw, 0) + 1 AS DOUBLE)
             |              / CAST(n_ref + v_size AS DOUBLE)
             |         ELSE 0.9 * (CASE WHEN cprev IS NOT NULL
             |                 THEN CAST(coalesce(cb, 0) AS DOUBLE)
             |                      / CAST(cprev AS DOUBLE)
             |                 ELSE 0.0 END)
             |            + 0.1 * (CAST(coalesce(cw, 0) + 1 AS DOUBLE)
             |                     / CAST(n_ref + v_size AS DOUBLE))
             |        END AS p
             |       FROM lmj, lmtot),
             |lmnll AS (SELECT doc_id, -avg(ln(p)) AS nll FROM lmsc GROUP BY doc_id),
             |kept3n AS (SELECT k.doc_id, k.source, k.lang, k.margin,
             |             k.n_tokens, k.n_chars, lmnll.nll
             |           FROM kept3 k JOIN lmnll USING (doc_id)),
             |gr AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS units
             |       FROM kept3n GROUP BY 1),
             |rt AS (SELECT lang, least(CAST(1.0 AS DOUBLE),
             |         CAST(CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4
             |              WHEN 'es' THEN 0.1 WHEN 'fr' THEN 0.2 WHEN 'zh' THEN 0.1
             |              ELSE 0.0 END AS DOUBLE)
             |           * CAST(30000 AS DOUBLE) / CAST(units AS DOUBLE)) AS rate
             |       FROM gr),
             |samp AS (SELECT k.doc_id, k.source, k.lang, k.margin, k.n_tokens, k.nll
             |  FROM kept3n k JOIN rt USING (lang)
             |  WHERE (('0x' || substr(md5('mix4' || CAST(k.doc_id AS VARCHAR)), 1, 15))::BIGINT
             |         % 1000000)
             |    < floor(rate * CAST(1000000 AS DOUBLE))),
             |pk AS (SELECT doc_id, source, lang, margin, n_tokens, nll,
             |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |           ROWS UNBOUNDED PRECEDING) AS cum FROM samp)
             |SELECT doc_id, source, lang,
             | round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-margin)), 6)
             |   AS p_quality,
             | round(nll, 6) AS nll,
             | CAST(n_tokens AS INT) AS n_tokens,
             | CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(512 AS DOUBLE))
             |   AS INT) AS pack_id
             |FROM pk ORDER BY doc_id""".stripMargin)
        val withV5 =
          base + ("q_llm_pipeline_v5" -> v5FromV4(base("q_llm_pipeline_v4")))
        // v6 = v5's packed rows reduced to per-(source, pack) shard
        // manifests — the whole v5 mirror rides along as a derived table
        val withV6 = withV5 + ("q_llm_pipeline_v6" ->
          s"""SELECT source, pack_id, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
             |  bit_xor(('0x' || substr(md5('v6' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
             |    AS checksum
             |FROM ( ${withV5("q_llm_pipeline_v5")} ) v5out
             |GROUP BY source, pack_id
             |ORDER BY source, pack_id""".stripMargin)
        // v7 = v5's packed rows through the Feistel epoch shuffle —
        // the v5 mirror as the source table, the permutation replayed
        // in integer arithmetic (2 epochs × 4 trainer shards)
        val withV7 = withV6 + ("q_llm_pipeline_v7" ->
          s"""WITH ${feistelCtesSql(withV5("q_llm_pipeline_v5"),
                 "doc_id, source, pack_id", "v7", 2)}
             |SELECT doc_id, source, pack_id, CAST(epoch AS INT) AS epoch,
             |  CAST(((l << 30) | r) % 4 AS INT) AS shard,
             |  (l << 30) | r AS pos
             |FROM fr4 ORDER BY epoch, shard, pos""".stripMargin)
        // v8 = v5's packed rows bucketed on the (doc_id, n_tokens)
        // Morton cell (the same generated interleave as q_zorder_
        // layout's mirror) and manifested per cell on the INPUT side —
        // the gate returns the sink's READBACK manifest, so equality
        // proves write fidelity cell by cell
        withV7 + ("q_llm_pipeline_v8" -> {
          val z = graft.relational.Layout.zOrderScaledSql(
            Seq("doc_id", "n_tokens"), 16)
          s"""WITH v5out AS ( ${withV5("q_llm_pipeline_v5")} ),
             |b AS (SELECT CAST(min(doc_id) AS BIGINT) AS mn_0,
             |    CAST(max(doc_id) AS BIGINT) AS mx_0,
             |    CAST(min(n_tokens) AS BIGINT) AS mn_1,
             |    CAST(max(n_tokens) AS BIGINT) AS mx_1 FROM v5out),
             |k AS (SELECT doc_id, n_tokens, ($z >> 28) AS zbucket
             |  FROM v5out, b)
             |SELECT zbucket, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_size,
             |  bit_xor(('0x' || substr(md5('sink' ||
             |    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS checksum
             |FROM k GROUP BY zbucket ORDER BY zbucket""".stripMargin
        })
      case _ => Map.empty
    }

  /** EXACT oracles for the learned-BPE gates, by the trainedIvfOracle
    * technique: the merge table is a deterministic function of the data
    * dir and sits in Bpe's memo by oracle-generation time (Verify runs
    * queries first), so it embeds as literal VALUES; the per-rank
    * replace recursion mirrors BpeTokenCount term for term. The packing
    * oracle chains the same `nb` counts into the per-shard running-sum
    * arithmetic.
    */
  private def trainedBpeOracle: Map[String, String] =
    Bpe.memoized match {
      case merges :: Nil => Map(
        "q_bpe_tokens" ->
          s"""WITH RECURSIVE ${Bpe.bpeCteSql(merges)}
             |SELECT doc_id, n_bpe AS n_bpe_tokens FROM nb
             |ORDER BY doc_id""".stripMargin,
        "q_bpe_encode" ->
          s"""WITH RECURSIVE ${Bpe.bpeEncodeCteSql(merges,
               "(SELECT doc_id, regexp_replace(text, '[|\\n\\r]', ' ', 'g')" +
                 " AS text FROM documents)")}
             |SELECT doc_id, pos, token FROM btok
             |ORDER BY doc_id, pos""".stripMargin,
        "q_sequence_packing" ->
          s"""WITH RECURSIVE ${Bpe.bpeCteSql(merges)},
             |d AS (SELECT d0.doc_id, d0.source, nb.n_bpe AS n_tokens
             |      FROM documents d0 JOIN nb USING (doc_id)),
             |c AS (SELECT doc_id, source, n_tokens,
             |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |          ROWS UNBOUNDED PRECEDING) AS cum FROM d)
             |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
             | CAST(floor(CAST(cum - n_tokens AS DOUBLE) / CAST(512 AS DOUBLE))
             |   AS INT) AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin)
      case _ => Map.empty
    }

  /** EXACT oracles for the trained unigram-LM gates (the
    * trainedBpeOracle technique — the piece table is in Unigram's memo
    * by oracle-generation time and embeds as literal VALUES with
    * integer scores; Unigram.unigramCteSql replays the Viterbi DP span
    * for span). The fertility oracle needs BOTH trained tokenizers —
    * the gate itself trains both, so both memos are populated whenever
    * it ran.
    */
  private def trainedUnigramOracle: Map[String, String] = {
    val uni = Unigram.memoized match {
      case model :: Nil => Map(
        "q_unigram_encode" ->
          s"""WITH RECURSIVE ${Unigram.unigramCteSql(model)}
             |SELECT doc_id, pos, token FROM utok
             |ORDER BY doc_id, pos""".stripMargin,
        "q_unigram_tokens" ->
          s"""WITH RECURSIVE ${Unigram.unigramCteSql(model)}
             |SELECT doc_id, n_uni AS n_unigram_tokens FROM un
             |ORDER BY doc_id""".stripMargin)
      case _ => Map.empty[String, String]
    }
    val cov = Unigram.memoizedEn match {
      case model :: Nil => Map(
        "q_tokenizer_coverage" ->
          s"""WITH RECURSIVE ${Unigram.unigramCteSql(model)}
             |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN p.piece IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_oov,
             |  round(CAST(sum(CASE WHEN p.piece IS NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
             |FROM utok t
             |JOIN documents d USING (doc_id)
             |LEFT JOIN upc p ON p.piece = t.token
             |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
      case _ => Map.empty[String, String]
    }
    val fert = (Bpe.memoized, Unigram.memoized, WordPiece.memoized,
        ByteBpe.memoized) match {
      case (merges :: Nil, model :: Nil, wp :: Nil, bb :: Nil) => Map(
        "q_bpe_fertility" ->
          s"""WITH RECURSIVE ${Bpe.bpeCteSql(merges)},
             |${Unigram.unigramCteSql(model)},
             |${WordPiece.wordPieceCteSql(wp,
               "(SELECT doc_id, replace(text, '#', ' ') AS text" +
                 " FROM documents)")},
             |${ByteBpe.byteBpeCteSql(bb)},
             |f AS (SELECT d.lang,
             |        len(string_split(d.text, ' ')) AS n_words,
             |        length(d.text) AS n_chars, nb.n_bpe, un.n_uni,
             |        wn.n_wp, yn.n_byte
             |      FROM documents d JOIN nb USING (doc_id)
             |        JOIN un USING (doc_id)
             |        JOIN wn USING (doc_id)
             |        JOIN yn USING (doc_id))
             |SELECT lang, CAST(sum(n_words) AS BIGINT) AS n_words,
             | CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
             | CAST(sum(n_uni) AS BIGINT) AS n_uni,
             | CAST(sum(n_wp) AS BIGINT) AS n_wp,
             | CAST(sum(n_byte) AS BIGINT) AS n_byte,
             | round(CAST(sum(n_bpe) AS DOUBLE)
             |   / CAST(sum(n_words) AS DOUBLE), 6) AS fertility_bpe,
             | round(CAST(sum(n_uni) AS DOUBLE)
             |   / CAST(sum(n_words) AS DOUBLE), 6) AS fertility_unigram,
             | round(CAST(sum(n_wp) AS DOUBLE)
             |   / CAST(sum(n_words) AS DOUBLE), 6) AS fertility_wordpiece,
             | round(CAST(sum(n_byte) AS DOUBLE)
             |   / CAST(sum(n_words) AS DOUBLE), 6) AS fertility_byte,
             | round(CAST(sum(n_chars) AS DOUBLE)
             |   / CAST(sum(n_bpe) AS DOUBLE), 6) AS chars_per_token_bpe,
             | round(CAST(sum(n_chars) AS DOUBLE)
             |   / CAST(sum(n_uni) AS DOUBLE), 6) AS chars_per_token_unigram,
             | round(CAST(sum(n_chars) AS DOUBLE)
             |   / CAST(sum(n_wp) AS DOUBLE), 6) AS chars_per_token_wordpiece,
             | round(CAST(sum(n_chars) AS DOUBLE)
             |   / CAST(sum(n_byte) AS DOUBLE), 6) AS chars_per_token_byte
             |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
      case _ => Map.empty[String, String]
    }
    uni ++ cov ++ fert ++ trainedWordPieceOracle ++ trainedByteBpeOracle
  }

  /** EXACT oracle for the byte-level BPE gate (the trainedBpeOracle
    * technique — the learned table is in ByteBpe's memo by
    * oracle-generation time; ByteBpe.byteBpeCteSql replays the UTF-8
    * byte expansion in pure code-point arithmetic against the embedded
    * 256-char surrogate map, then the same per-rank replace recursion).
    */
  private def trainedByteBpeOracle: Map[String, String] =
    ByteBpe.memoized match {
      case bb :: Nil => Map(
        "q_byte_bpe" ->
          s"""WITH RECURSIVE ${ByteBpe.byteBpeCteSql(bb)}
             |SELECT doc_id, pos, token FROM ytok
             |ORDER BY doc_id, pos""".stripMargin)
      case _ => Map.empty[String, String]
    }

  /** EXACT oracle for the trained WordPiece gate (the
    * trainedUnigramOracle technique — the vocabulary is in WordPiece's
    * memo by oracle-generation time and embeds as literal VALUES;
    * WordPiece.wordPieceCteSql replays the greedy walk step for step
    * over the same '#'-sanitized text the gate reads).
    */
  private def trainedWordPieceOracle: Map[String, String] =
    WordPiece.memoized match {
      case wp :: Nil => Map(
        "q_wordpiece_encode" ->
          s"""WITH RECURSIVE ${WordPiece.wordPieceCteSql(wp,
               "(SELECT doc_id, replace(text, '#', ' ') AS text" +
                 " FROM documents)")}
             |SELECT doc_id, pos, token FROM wtok
             |ORDER BY doc_id, pos""".stripMargin)
      case _ => Map.empty[String, String]
    }
}
