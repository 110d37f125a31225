package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, quality signals, language ID, document fingerprinting.
  *
  * All pure Column expressions — per-row, no shuffle, codegen'd; at
  * 100 TB these fuse into the parquet scan. (Beyond the reference's own
  * surface; its text module stops at vectorizers —
  * feature_extraction/text.py.)
  */
object TextStats {

  /** Whitespace tokens (simple split). The scalar statistics below do
    * NOT materialize this array: they read the native one-pass
    * [[graft.functions.TokenStats]] expression — five interpreted-HOF
    * passes collapsed into one codegen'd scan per document, shared
    * across all projected stats via codegen subexpression elimination.
    */
  def tokens(text: Column): Column = split(text, " ")

  import graft.functions.{TokenStats => TS}
  private def stats(text: Column): Column = TS(text, defaultStopwords)

  def tokenCount(text: Column): Column =
    element_at(stats(text), TS.N_TOKENS).cast("int")

  /** Rough BPE-style subword count: words are split every 4 chars (a
    * public heuristic ≈ chars/4), counted without materializing subwords.
    */
  def bpeTokenCount(text: Column): Column =
    element_at(stats(text), TS.N_BPE).cast("int")

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val s = TS(text, stopwords)
    element_at(s, TS.N_STOP) / element_at(s, TS.N_TOKENS).cast("double")
  }

  def avgTokenLen(text: Column): Column = {
    val s = stats(text)
    element_at(s, TS.TOTAL_LEN).cast("double") / element_at(s, TS.N_TOKENS)
  }

  /** Distinct-token fraction — low values indicate boilerplate/spam. */
  def uniqueTokenRatio(text: Column): Column = {
    val s = stats(text)
    element_at(s, TS.N_DISTINCT) / element_at(s, TS.N_TOKENS).cast("double")
  }

  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))) /
      length(text).cast("double")

  /** Composite quality score in [0,1] from public heuristics (length,
    * lexical diversity, stopword presence) — Gopher/C4-style signals.
    */
  def qualityScore(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val lenOk = when(tokenCount(text).between(5, 10000), 1.0).otherwise(0.0)
    val diversity = least(uniqueTokenRatio(text) * 2.0, lit(1.0))
    val hasStop = when(stopwordRatio(text, stopwords) > 0, 1.0).otherwise(0.0)
    (lenOk + diversity + hasStop) / 3.0
  }

  val defaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Marker-token language ID: score = count of language-marker tokens;
    * prediction = argmax with ties broken by language code (n-gram
    * heuristic in the classic public style; markers are configurable).
    */
  val defaultMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "und", "die"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "y"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("de", "shi", "bu"))

  def languageScore(text: Column, markers: Seq[String]): Column =
    element_at(TS(text, markers), TS.N_STOP).cast("int")

  def languageId(text: Column, markers: Map[String, Seq[String]] = defaultMarkers): Column = {
    val langs = markers.keys.toSeq.sorted
    val scores = langs.map(l => languageScore(text, markers(l)))
    val best = greatest(scores: _*)
    // first language (alphabetical) attaining the max; 'und' if none hit
    langs.zip(scores).reverse.foldLeft(lit("und"): Column) {
      case (acc, (l, sc)) => when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  import graft.functions.{RepetitionStats => RS}

  /** Gopher repetition filters (Rae et al. 2021, Table A1 — public).
    * All one-pass scan-fused native expressions
    * ([[graft.functions.RepetitionStats]]); a query projecting several
    * signals with the same (n, sep) shares ONE kernel evaluation via
    * codegen subexpression elimination.
    */

  /** Fraction of characters in the most common word n-gram (ties
    * resolved by taking the max count·chars product). 0 for docs with
    * fewer than n tokens or empty text.
    */
  def topNgramCharFrac(text: Column, n: Int): Column = {
    val s = RS(text, n, "\n")
    val total = element_at(s, RS.TOTAL_CHARS)
    when(total === 0, 0.0)
      .otherwise(element_at(s, RS.TOP_NGRAM_SCORE) / total.cast("double"))
  }

  /** Fraction of characters in duplicated word n-grams (n-grams
    * occurring ≥ 2 times; overlapping occurrences double-count, so the
    * sum is capped at 1 — the standard public formulation).
    */
  def dupNgramCharFrac(text: Column, n: Int): Column = {
    val s = RS(text, n, "\n")
    val total = element_at(s, RS.TOTAL_CHARS)
    when(total === 0, 0.0)
      .otherwise(least(element_at(s, RS.DUP_NGRAM_CHARS) / total.cast("double"),
        lit(1.0)))
  }

  /** Fraction of lines that are duplicates of another line (line = the
    * maximal runs between LITERAL `sep` occurrences, empties kept).
    */
  def dupLineFrac(text: Column, sep: String = "\n"): Column = {
    val s = RS(text, 1, sep)
    element_at(s, RS.DUP_LINE_COUNT) /
      element_at(s, RS.N_LINES).cast("double")
  }

  /** Fraction of (line-resident) characters inside duplicated lines. */
  def dupLineCharFrac(text: Column, sep: String = "\n"): Column = {
    val s = RS(text, 1, sep)
    val total = element_at(s, RS.TOTAL_LINE_CHARS)
    when(total === 0, 0.0)
      .otherwise(element_at(s, RS.DUP_LINE_CHARS) / total.cast("double"))
  }

  /** Normalization + md5 fingerprint for exact-ish dedup (lowercase,
    * strip punctuation, collapse whitespace). The rolling-hash analog on
    * a normalized document.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(text), "[\\p{Punct}]", ""),
      "\\s+", " ")))

  /** PII scrubbing patterns (order matters: email, then URL, then IP —
    * an address inside an already-scrubbed span can't double-fire).
    * The dialect-neutral regex subset (char classes, {m,}, \b, \d, \s)
    * behaves identically under Java regex and RE2, so the scrub is
    * exactly reproducible by any RE2-based engine.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^\\s]+" -> "<URL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** Redact emails, URLs and IPv4 addresses with typed sentinels — the
    * standard pre-training privacy scrub, as chained scan-fused
    * `regexp_replace`s (no UDF, no shuffle; fuses into the parquet
    * scan at 100 TB).
    */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** Canonical URL for URL-keyed dedup/grouping: lowercase scheme and
    * host (case-insensitive per RFC 3986), keep the path's case, strip
    * query string, fragment, and any trailing slash. Pure
    * regexp_extract/replace in the dialect-neutral subset — scan-fused.
    * Non-URLs canonicalize to the empty string (both engines return ''
    * for a failed extract), so a `!= ''` filter separates them.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = regexp_extract(url, "(?i)^(https?)://", 1)
    val host = regexp_extract(url, "(?i)^https?://([^/?#]+)", 1)
    val path = regexp_extract(url, "(?i)^https?://[^/?#]+([^?#]*)", 1)
    when(scheme === "" || host === "", lit(""))
      .otherwise(concat(lower(scheme), lit("://"), lower(host),
        regexp_replace(path, "/$", "")))
  }

  /** Lowercased host of a URL ('' for non-URLs) — the grouping key for
    * per-domain statistics and domain-level filtering.
    */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "(?i)^https?://([^/?#]+)", 1))

  /** BM25 relevance scores (Robertson–Walker–Jones; the '+1' idf
    * variant that keeps weights positive) of every document against a
    * small literal term set — the classic retrieval scorer, shaped for
    * 100 TB:
    *
    *  1. ONE tree-aggregated stats pass computes N, Σdl and per-term
    *     document frequencies together (per-term tf counts ride the
    *     one-pass native [[graft.functions.TokenStats]] kernel — no
    *     token explode, no shuffle);
    *  2. idf values are computed on the driver and baked into the plan
    *     as literals;
    *  3. scoring is a scan-fused map-only projection — zero shuffles
    *     end to end, and the term filter pushes nothing to the driver
    *     but m+2 aggregate values.
    *
    * Returns the input plus `bm25` (and a `dl` token-count column).
    */
  def withBm25(df: DataFrame, textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be distinct")
    val t = col(textCol)
    def tf(term: String): Column =
      element_at(graft.functions.TokenStats(t, Seq(term)),
        graft.functions.TokenStats.N_STOP)
    val aggs = Seq(count(lit(1)).as("n"),
      sum(tokenCount(t).cast("long")).as("sumdl")) ++
      terms.zipWithIndex.map { case (term, i) =>
        sum(when(tf(term) > 0, 1L).otherwise(0L)).as(s"df_$i")
      }
    val statsRow = df.agg(aggs.head, aggs.tail: _*).head()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n
    val idf = terms.indices.map { i =>
      val dfT = statsRow.getLong(2 + i)
      math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
    }
    val dl = tokenCount(t).cast("double")
    val score = terms.zip(idf).map { case (term, w) =>
      val tfc = tf(term).cast("double")
      lit(w) * (tfc * lit(k1 + 1.0)) /
        (tfc + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / lit(avgdl)))
    }.reduce(_ + _)
    df.withColumn("dl", tokenCount(t)).withColumn("bm25", score)
  }

  /** TF-IDF scores for a fixed probe vocabulary — the classic
    * retrieval/feature scorer beside [[withBm25]], with sklearn's
    * smooth-idf convention: idf = ln((1+N)/(1+df)) + 1, score = tf·idf
    * (raw term counts; row-L2 normalization is a full-vocabulary
    * notion and does not apply to a probe subset).
    *
    * Same plan shape as BM25: N and per-term document frequencies in
    * ONE tree-aggregated pass riding the TokenStats kernel, idf baked
    * as plan literals, scoring scan-fused — zero shuffles at score
    * time.
    */
  def withTfIdf(df: DataFrame, textCol: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be distinct")
    val t = col(textCol)
    def tf(term: String): Column =
      element_at(graft.functions.TokenStats(t, Seq(term)),
        graft.functions.TokenStats.N_STOP)
    val aggs = Seq(count(lit(1)).as("n")) ++
      terms.zipWithIndex.map { case (term, i) =>
        sum(when(tf(term) > 0, 1L).otherwise(0L)).as(s"df_$i")
      }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    terms.zipWithIndex.foldLeft(df) { case (d, (term, i)) =>
      val idf = math.log((1.0 + n) / (1.0 + row.getLong(1 + i))) + 1.0
      d.withColumn(s"tfidf_$i", tf(term).cast("double") * lit(idf))
    }
  }

  /** Corpus heavy hitters: Misra–Gries top tokens
    * (graft.functions.FreqItems) over the exploded token stream. The
    * explode is map-only and the partial MG summaries (k counters per
    * partition) merge through one tiny final shuffle — an exact
    * `groupBy(token)` would shuffle the full 100 TB token stream
    * instead. Every token with frequency > n_tokens/(k+1) is guaranteed
    * present; counts are lower bounds within n/(k+1).
    */
  def heavyTokens(df: DataFrame, textCol: String, k: Int = 100): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .agg(graft.functions.FreqItems(col("token"), k).as("items"))
      .select(explode(col("items")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("count_lb"))

  /** Context-window chunking: split each document's token stream into
    * overlapping windows of `maxTokens` tokens advancing by
    * `maxTokens − overlap` — the packing step that turns raw documents
    * into training-context rows. Entirely map-only (per-row array ops +
    * one posexplode; the starts array is tiny so its filter lambda is
    * not a hot path): at 100 TB this fuses into the scan with no
    * shuffle. A start position opens a chunk iff it is 0 or leaves more
    * than `overlap` fresh tokens (so no chunk is a suffix of its
    * predecessor).
    *
    * Output: (id, chunk_id, start, n_chunk_tokens, chunk_hash) — the
    * hash stands in for the chunk text to keep gates/storage small;
    * select the slice itself in a real pipeline.
    */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      maxTokens: Int = 512, overlap: Int = 64): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got overlap=$overlap max=$maxTokens")
    val step = maxTokens - overlap
    val t = tokens(col(textCol))
    val n = size(t)
    val starts = filter(
      sequence(lit(0), greatest(n - 1, lit(0)), lit(step)),
      s => s === 0 || s < n - overlap)
    df.select(col(idCol), t.as("__t"), starts.as("__starts"))
      .select(col(idCol), col("__t"),
        posexplode(col("__starts")).as(Seq("chunk_id", "start")))
      .select(col(idCol), col("chunk_id"), col("start"),
        size(slice(col("__t"), col("start") + 1, lit(maxTokens)))
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("__t"), col("start") + 1, lit(maxTokens))))
          .as("chunk_hash"))
  }

  /** Cross-document sequence packing: assign each document to a pack
    * (training sequence) of at most `budget` tokens, greedily in
    * (shard, id) order — the step that turns a deduped corpus into
    * fixed-size pretraining sequences. An over-budget document
    * OVERFILLS the pack that is open when it arrives (it only lands in
    * a pack of its own when its cumulative sum happens to start at a
    * pack boundary, e.g. first in shard) — split long documents first
    * with [[chunkDocuments]] if strict budgets matter.
    *
    * Greedy first-fit over a running token total needs a sequential
    * scan, so the window runs PER SHARD (`shardCol` — source, file,
    * date…): each shard's packing is independent, the window state is
    * one running sum, and no shard's document stream rides a single
    * task at corpus scale the way a global `Window.orderBy` would.
    * Deterministic: (shard, id) is a total order.
    *
    * pack_id = floor((cumsum − len) / budget) — the standard
    * contiguous approximation of first-fit (a pack may under-fill when
    * a long document straddles a boundary; exact bin packing is
    * NP-hard and the approximation never OVERFILLS more than the
    * straddling document's spill, matching public packing recipes).
    * Output adds (n_tokens, pack_id) with pack ids local to the shard.
    */
  /** @param tokenCounter token-count expression per document — default
    *   whitespace tokens; pass `Bpe.countExpr(_, merges)` to pack on
    *   true learned-subword counts.
    *
    * Besides (n_tokens, pack_id), the output carries `pack_offset` —
    * the doc's starting token position WITHIN its pack (cumBefore −
    * pack_id·budget, pure arithmetic on the same running sum): the
    * attention-boundary/document-mask info a trainer needs to not
    * cross-attend over packed-together documents.
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      shardCol: String, budget: Int,
      tokenCounter: Column => Column = tokenCount): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
    df.withColumn("n_tokens", tokenCounter(col(textCol)))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        floor((col("__cum") - col("n_tokens")) / lit(budget)).cast("int"))
      .withColumn("pack_offset",
        (col("__cum") - col("n_tokens") -
          col("pack_id").cast("long") * lit(budget.toLong)).cast("int"))
      .drop("__cum")
  }

  /** Per-shard padding-waste report over [[packSequences]] output: how
    * many of the shard's reserved `budget`-token slots go unused —
    * the padding-efficiency number a batching recipe is judged by.
    * A pack's waste is max(0, budget − its token sum) (an overfilled
    * pack — the documented straddling-document spill — wastes
    * nothing). Two tiny aggregations over ≤|packs| keys; the corpus
    * pays only the packing scan.
    */
  def packPaddingWaste(packed: DataFrame, shardCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    packed.groupBy(col(shardCol), col("pack_id"))
      .agg(sum(col("n_tokens")).cast("long").as("__pt"))
      .groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("__pt")).as("total_tokens"),
        sum(greatest(lit(0L), lit(budget.toLong) - col("__pt")))
          .as("padding_waste"))
      .withColumn("waste_frac",
        round(col("padding_waste").cast("double") /
          (col("n_packs") * lit(budget.toLong)).cast("double"), 6))
  }

  /** Length-bucketed sequence packing: [[packSequences]] with documents
    * first split into power-of-two token-length buckets, then packed
    * per (shard, bucket) — the padding-minimizing batching recipe
    * (documents of similar length share a pack, so a pack's padding
    * waste is bounded by the bucket's 2× width; the same idea as
    * bucketed batching in public seq2seq training recipes).
    *
    * The bucket is `len(bin(n))` — the binary bit-length of the token
    * count, i.e. floor(log2 n)+1 computed in INTEGER arithmetic
    * (`bin()` exists verbatim in both engines; no float log whose ulp
    * at an exact power of two could disagree across engines). Packing
    * windows run per (shard, bucket): strictly narrower partitions
    * than [[packSequences]], so the scale posture only improves.
    * Output adds (n_tokens, len_bucket, pack_id), pack ids local to
    * the (shard, bucket) pair.
    */
  def packLengthBuckets(df: DataFrame, textCol: String, idCol: String,
      shardCol: String, budget: Int,
      tokenCounter: Column => Column = tokenCount): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val bucket = length(bin(greatest(col("n_tokens"), lit(1)).cast("long")))
      .cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol), col("len_bucket")).orderBy(col(idCol))
    df.withColumn("n_tokens", tokenCounter(col(textCol)))
      .withColumn("len_bucket", bucket)
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        floor((col("__cum") - col("n_tokens")) / lit(budget)).cast("int"))
      .drop("__cum")
  }

  /** Line-level document cleaning — the RefinedWeb / CCNet pre-filter
    * stage (Penedo arXiv:2306.01116 App. F; Wenzek LREC'20 §3.1): drop
    * lines that are too short, SHOUTED, or mostly numeric, and keep
    * only the FIRST occurrence of a repeated line within a document,
    * then reassemble the survivors in order.
    *
    * Plan shape: posexplode → pure-column keep rules → groupBy
    * (doc, line) min(pos) for keep-first dedup → groupBy(doc) with
    * sort_array(collect_list) reassembly. Two doc-keyed shuffles, NO
    * window (per-doc state stays bounded by document size, and the
    * per-line rules fuse into the scan).
    *
    * Fractions are rationals of integer lengths over non-space chars,
    * so the rules evaluate identically in integer SQL.
    *
    * Returns (idCol, cleaned, n_kept, n_dropped); a doc whose every
    * line drops keeps a row with cleaned = '' and n_kept = 0.
    */
  def cleanLines(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = 3, maxUpperFrac: Double = 0.6,
      maxDigitFrac: Double = 0.5): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "line")))
    val nChars = length(regexp_replace(col("line"), " ", ""))
    val keep = (size(split(col("line"), " ")) >= minWords) &&
      (nChars === 0 ||
        (length(regexp_replace(col("line"), "[^A-Z]", "")).cast("double") /
          nChars.cast("double") <= maxUpperFrac &&
         length(regexp_replace(col("line"), "[^0-9]", "")).cast("double") /
          nChars.cast("double") <= maxDigitFrac))
    val counted = lines
      .withColumn("__keep", keep)
    val firstKept = counted.filter(col("__keep"))
      .groupBy(col(idCol), col("line"))
      .agg(min(col("pos")).as("pos"))
    val perDoc = firstKept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("line")))),
          s => s("line")), "\n").as("cleaned"),
        count(lit(1)).as("n_kept"))
    // left join back so fully-cleaned docs still emit a row
    df.select(col(idCol),
        size(split(col(textCol), "\n")).cast("long").as("__n_lines"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** PMI collocation mining (Church & Hanks 1990): rank adjacent word
    * pairs by pointwise mutual information
    * ln( p(ab) / (p(a)·p(b)) ), with p(ab) from the bigram count over
    * total bigrams and p(w) from unigram counts over total tokens.
    * High-PMI pairs are multi-word expressions — the classic
    * tokenizer-vocabulary / phrase-extraction signal.
    *
    * Plan shape: one corpus scan feeds the unigram aggregation and one
    * the bigram aggregation (both map-side partial, vocab-sized
    * results). The bigram table then meets the unigram table ONCE — the
    * bigram unpivots into (bg, endpoint) rows, equi-joins `uni`, and a
    * groupBy(bg) folds both endpoint counts back (joining `uni` twice,
    * once per endpoint, would recompute the whole unigram DAG: Spark
    * does not reuse exchanges across plan references). Corpus-level
    * totals come from a separate LIGHT pass (two sums over `size(t)`,
    * no explode) collected to plan literals. Selection is a bounded
    * TakeOrdered on the ROUNDED score (house cross-engine rule).
    *
    * @param minCount drop bigrams rarer than this (PMI of hapaxes is
    *   noise — standard practice)
    */
  def pmiCollocations(df: DataFrame, textCol: String, k: Int = 50,
      minCount: Int = 5): DataFrame = {
    val t = tokens(col(textCol))
    val toksDf = df.select(t.as("t"))
    val totRow = toksDf.agg(
      sum(size(col("t"))).cast("long").as("n_uni"),
      sum(when(size(col("t")) >= 2, size(col("t")) - 1).otherwise(0))
        .cast("long").as("n_bi")).collect()(0)
    val (nUni, nBi) = (totRow.getLong(0), totRow.getLong(1))
    val uni = toksDf.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val n1 = size(col("t")) - 1
    val bi = toksDf
      .select(explode(zip_with(slice(col("t"), lit(1), n1),
        slice(col("t"), lit(2), n1),
        (a, b) => concat_ws(" ", a, b))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    val endpoints = bi.select(col("bg"), col("cb"),
      posexplode(split(col("bg"), " ")).as(Seq("pos", "w")))
    val joined = endpoints.join(uni, Seq("w"))
      .groupBy("bg", "cb")
      .agg(max(when(col("pos") === 0, col("cw"))).as("ca"),
        max(when(col("pos") === 1, col("cw"))).as("cb_uni"))
    joined.select(col("bg"), col("cb"),
        round(log((col("cb").cast("double") / lit(nBi.toDouble)) /
          ((col("ca").cast("double") / lit(nUni.toDouble)) *
            (col("cb_uni").cast("double") / lit(nUni.toDouble)))), 6)
          .as("pmi"))
      .orderBy(desc("pmi"), col("bg"))
      .limit(k)
  }

  /** Two-sample chi-square drift monitor: compare the distribution of a
    * bounded bucket column between two document populations (yesterday
    * vs today's crawl, source A vs source B). Returns one row per
    * bucket with both observed counts, the independence-expected
    * counts, and the bucket's chi² contribution — Σ is the test
    * statistic, per-bucket rows say WHERE the drift is.
    *
    * Each input is scanned once into a bucket-count aggregate (tagged
    * union, map-side partial, ≤ |buckets| rows out); the bounded counts
    * collect to the driver, where totals close over them — corpus-sized
    * data never moves twice. The (obs−exp)²/exp arithmetic stays in
    * Spark expressions over the literal integer counts, bit-identical
    * cross-engine.
    */
  def distributionDrift(a: DataFrame, b: DataFrame,
      bucket: Column): DataFrame = {
    val spark = a.sparkSession
    def counts(df: DataFrame, tag: Int) =
      df.select(bucket.cast("long").as("bucket"), lit(tag.toLong).as("t"))
        .groupBy("bucket").agg(sum(col("t")).as("ca"), count(lit(1)).as("n"))
    val rows = counts(a, 1).unionByName(counts(b, 0))
      .groupBy("bucket")
      .agg(sum("ca").as("ca"), sum("n").as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2) - r.getLong(1)))
      .sortBy(_._1)
    val na = rows.map(_._2).sum
    val nb = rows.map(_._3).sum
    val nTot = na + nb
    import spark.implicits._
    val base = rows.toSeq.toDF("bucket", "ca", "cb")
    def contrib(obs: Column, rowTotal: Long) = {
      val exp = (col("ca") + col("cb")).cast("double") *
        lit(rowTotal.toDouble) / lit(nTot.toDouble)
      ((obs.cast("double") - exp) * (obs.cast("double") - exp) / exp, exp)
    }
    val (chiA, expA) = contrib(col("ca"), na)
    val (chiB, expB) = contrib(col("cb"), nb)
    base.select(col("bucket"), col("ca"), col("cb"),
      round(expA, 6).as("exp_a"), round(expB, 6).as("exp_b"),
      round(chiA + chiB, 6).as("chi2"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic over a bucket column —
    * the sup-norm member of the drift family (chi-square = is the
    * difference significant, JS = how big in distribution space, KS =
    * where do the CDFs diverge most; the classic scalar for "did the
    * length/score distribution shift"). Same ONE-pass tagged-union
    * contingency as [[distributionDrift]]; the cumulative walk over
    * the ≤B sorted buckets runs on the driver (sequential integer
    * sums — bit-identical to the oracle's ordered window). Output: one
    * row (d_ks, at_bucket, na, nb) — at_bucket is the SMALLEST bucket
    * attaining the supremum.
    */
  def ksStatistic(a: DataFrame, b: DataFrame, bucket: Column): DataFrame = {
    val spark = a.sparkSession
    def counts(df: DataFrame, tag: Int) =
      df.select(bucket.cast("long").as("bucket"), lit(tag.toLong).as("t"))
        .groupBy("bucket").agg(sum(col("t")).as("ca"), count(lit(1)).as("n"))
    val rows = counts(a, 1).unionByName(counts(b, 0))
      .groupBy("bucket")
      .agg(sum("ca").as("ca"), sum("n").as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2) - r.getLong(1)))
      .sortBy(_._1)
    val na = rows.map(_._2).sum
    val nb = rows.map(_._3).sum
    require(na > 0 && nb > 0, "both slices must be non-empty")
    var cumA = 0L; var cumB = 0L
    var best = -1.0; var bestBucket = 0L
    rows.foreach { case (bk, ca, cb) =>
      cumA += ca; cumB += cb
      val d = math.abs(cumA.toDouble / na - cumB.toDouble / nb)
      if (d > best) { best = d; bestBucket = bk }
    }
    import spark.implicits._
    Seq((BigDecimal(best).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble, bestBucket, na, nb))
      .toDF("d_ks", "at_bucket", "na", "nb")
  }

  /** Population Stability Index per bucket — the scorecard-world drift
    * scalar (Siddiqi 2006 §8; the companion to [[distributionDrift]]'s
    * chi-square and [[ksStatistic]]'s sup-norm):
    * psi = Σ (p_a − p_b)·ln(p_a/p_b). Shares are Laplace-smoothed
    * (+0.5 per bucket, the WoE convention) so a bucket empty on one
    * side stays finite. Same one-pass tagged-union contingency; output
    * is the per-bucket term table (the caller sums — conventional read:
    * < 0.1 stable, 0.1–0.25 shifting, > 0.25 drifted).
    */
  def psi(a: DataFrame, b: DataFrame, bucket: Column): DataFrame = {
    def counts(df: DataFrame, tag: Int) =
      df.select(bucket.cast("long").as("bucket"), lit(tag.toLong).as("t"))
        .groupBy("bucket").agg(sum(col("t")).as("ca"), count(lit(1)).as("n"))
    val byBucket = counts(a, 1).unionByName(counts(b, 0))
      .groupBy("bucket")
      .agg(sum("ca").as("ca"), (sum("n") - sum("ca")).as("cb"))
    val tot = byBucket.agg(sum("ca").as("__na"), sum("cb").as("__nb"),
      count(lit(1)).as("__k"))
    val pa = (col("ca") + lit(0.5)) / (col("__na") + lit(0.5) * col("__k"))
    val pb = (col("cb") + lit(0.5)) / (col("__nb") + lit(0.5) * col("__k"))
    byBucket.join(broadcast(tot))
      .select(col("bucket"), col("ca"), col("cb"),
        round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
        round((pa - pb) * log(pa / pb), 6).as("psi_term"))
  }

  /** Word n-gram array built by zipping shifted slices — the array
    * binds ONCE per row (the DSIR lesson: indexing back into an
    * unbound split() inside a lambda re-evaluates it per element,
    * O(n²)/doc), and gram strings are built left-fold so n-grams of
    * any order stay one zip_with per order. Empty when the document
    * has fewer than n tokens.
    */
  def ngramArray(tok: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive, got $n")
    if (n == 1) tok
    else {
      val prev = ngramArray(tok, n - 1)
      val len = greatest(size(tok) - lit(n - 1), lit(0))
      zip_with(slice(prev, lit(1), len), slice(tok, lit(n), len),
        (a, b) => concat(a, lit(" "), b))
    }
  }

  /** distinct-n lexical diversity (Li et al. arXiv:1510.03055 §5's
    * distinct-1/-2 metric, the standard self-repetition signal for
    * generated/templated text): distinct n-grams / total n-grams per
    * document, null when the document has fewer than n tokens.
    * Scan-fused — no explode, no shuffle; the corpus-level mean is one
    * aggregate over the per-doc column.
    */
  def distinctNgramRatio(text: Column, n: Int): Column = {
    val g = ngramArray(tokens(text), n)
    when(size(g) > 0,
      size(array_distinct(g)).cast("double") / size(g).cast("double"))
  }

  /** Jensen–Shannon divergence between two corpus slices over a bucket
    * column — the bounded, symmetric drift measure (0 ≤ JS ≤ ln 2 in
    * nats) complementing [[distributionDrift]]: chi-square tests
    * significance of a difference, JS measures its magnitude on a
    * sample-size-free scale (the standard "did the corpus mix shift"
    * monitor between ingest snapshots).
    *
    * Same plan shape as the chi-square monitor: ONE tagged-union
    * aggregation scans each side once, the 2×B contingency collects
    * bounded, and the per-bucket contribution
    * ½·p·ln(p/m) + ½·q·ln(q/m) with m = ½(p+q) (zero-count terms
    * dropped — lim x→0 of x·ln x) stays in Spark expressions over the
    * literal integer counts. The divergence is the sum of
    * `js_contrib`; it is returned per bucket so the gate compares
    * engine-ordered arithmetic, not an order-unspecified total.
    */
  def jsDivergence(a: DataFrame, b: DataFrame, bucket: Column): DataFrame = {
    val spark = a.sparkSession
    def counts(df: DataFrame, tag: Int) =
      df.select(bucket.cast("long").as("bucket"), lit(tag.toLong).as("t"))
        .groupBy("bucket").agg(sum(col("t")).as("ca"), count(lit(1)).as("n"))
    val rows = counts(a, 1).unionByName(counts(b, 0))
      .groupBy("bucket")
      .agg(sum("ca").as("ca"), sum("n").as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2) - r.getLong(1)))
      .sortBy(_._1)
    val na = rows.map(_._2).sum.toDouble
    val nb = rows.map(_._3).sum.toDouble
    require(na > 0 && nb > 0, "both slices must be non-empty")
    import spark.implicits._
    val base = rows.toSeq.toDF("bucket", "ca", "cb")
    val p = col("ca").cast("double") / lit(na)
    val q = col("cb").cast("double") / lit(nb)
    val m = (p + q) * lit(0.5)
    val js =
      when(col("ca") > 0, p * log(p / m)).otherwise(lit(0.0)) * lit(0.5) +
        when(col("cb") > 0, q * log(q / m)).otherwise(lit(0.0)) * lit(0.5)
    base.select(col("bucket"), col("ca"), col("cb"),
      round(js, 6).as("js_contrib"))
  }

  /** Zipf's-law fit over the top-`topK` token frequencies: least
    * squares of ln(freq) on ln(rank) — the classic corpus-health
    * diagnostic (natural text ⇒ slope ≈ −1; templated/boilerplate
    * corpora flatten or steepen it). One vocab-sized count
    * aggregation; the rank order comes from the bounded top-k heap
    * ([[graft.functions.TopKByScore]], ties by token asc), NOT a
    * row_number window — nothing ever sorts the vocabulary, and the
    * regression runs over exactly `topK` rows. Counts < 2^52 make the
    * heap's double score integer-exact.
    *
    * Output: one row (n_top, slope, intercept), unrounded.
    */
  def zipfFit(df: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    require(topK > 1, s"topK must exceed 1, got $topK")
    val c = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val top = c.groupBy()
      .agg(graft.functions.TopKByScore(col("c").cast("double"), col("w"),
        topK).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__r", "__kv")))
      .select((col("__r") + 1).cast("double").as("rank"),
        col("__kv.score").as("c"))
    val a = top
      .select(log(col("rank")).as("x"), log(col("c")).as("y"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val slope = (col("sxy") - col("sx") * col("sy") / col("n")) /
      (col("sxx") - col("sx") * col("sx") / col("n"))
    a.select(col("n").cast("int").as("n_top"), slope.as("slope"),
      (col("sy") / col("n") - slope * col("sx") / col("n")).as("intercept"))
  }

  /** Cross-source contamination matrix: word-n-gram Jaccard between
    * every pair of corpus slices (sources, dumps, snapshots) — the
    * between-SOURCE analog of per-document dedup, the signal that says
    * "dump B is 40% a re-crawl of dump A" before any per-doc work.
    *
    * Per group the distinct shingle set is content-diversity-sized
    * (≪ corpus); the only corpus-sized pass is the shingle explode
    * feeding one distinct. The pair counts come from a shingle
    * equi-join of the (persisted) group-shingle frame against itself
    * restricted to g_a < g_b — partial-aggregated on (g_a, g_b), so
    * the exchange carries pair keys, not shingles; |groups|² rows out.
    */
  def crossSourceOverlap(df: DataFrame, textCol: String, groupCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val t = tokens(col(textCol))
    // fan out by the TEXT column (the group key has only a handful of
    // distinct values — hashing on it would collapse the repartition)
    val sh0 = graft.core.FanOut.byKey(df, textCol).filter(size(t) >= n)
      .select(col(groupCol).as("g"),
        explode(transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => t(i + j - 1)): _*))).as("s"))
      .distinct()
    val sh = graft.core.Memos.persist(sh0)
    val sz = sh.groupBy("g").agg(count(lit(1)).as("n_sh"))
    val ix = sh.join(sh.select(col("g").as("g2"), col("s")), "s")
      .filter(col("g") < col("g2"))
      .groupBy(col("g"), col("g2")).agg(count(lit(1)).as("inter"))
    ix.join(broadcast(sz), "g")
      .join(broadcast(sz.select(col("g").as("g2"), col("n_sh").as("n_b"))), "g2")
      .select(col("g").as("src_a"), col("g2").as("src_b"), col("inter"),
        col("n_sh").as("n_a"), col("n_b"),
        (col("inter").cast("double") /
          (col("n_sh") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** C4 cleaning preset (Raffel et al., arXiv:1910.10683 §2.2 — the
    * public rule list behind the C4 corpus), composed as ONE scan-fused
    * per-row projection — no shuffle, no UDF, streams statelessly:
    *
    *  - line level (kept lines rebuild the document): ends in a
    *    terminal punctuation mark (. ! ? "), has ≥ `minWordsPerLine`
    *    words, does not mention "javascript";
    *  - page level: drop if "lorem ipsum" or '{' appears anywhere, if
    *    any blocklist word occurs as a token, or if the CLEANED text
    *    has fewer than `minSentences` sentence marks ([.!?] count — the
    *    splitting-free count proxy).
    *
    * Returns every document with its cleaned text, per-rule flags
    * (ints, for cross-engine hashing), and the final `keep` verdict —
    * callers filter on `keep` but audits read the flags.
    */
  def c4Filter(df: DataFrame, textCol: String, idCol: String,
      minWordsPerLine: Int = 3, minSentences: Int = 5,
      badwords: Seq[String] = Seq.empty): DataFrame = {
    val text = col(textCol)
    val keptLines = filter(split(text, "\n"), l =>
      substring(l, -1, 1).isInCollection(Seq(".", "!", "?", "\"")) &&
        size(split(l, " ")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    val cleaned = array_join(keptLines, "\n")
    val nSent = length(cleaned) -
      length(regexp_replace(cleaned, "[.!?]", ""))
    val hasBad =
      if (badwords.isEmpty) lit(false)
      else arrays_overlap(
        split(translate(lower(text), "\n", " "), " "),
        array(badwords.map(lit): _*))
    df.select(col(idCol), cleaned.as("cleaned"),
        size(keptLines).as("n_kept"), nSent.as("n_sentences"),
        lower(text).contains("lorem ipsum").cast("int").as("has_lorem"),
        text.contains("{").cast("int").as("has_brace"),
        hasBad.cast("int").as("has_badword"))
      .withColumn("keep",
        (col("has_lorem") === 0 && col("has_brace") === 0 &&
          col("has_badword") === 0 && col("n_kept") > 0 &&
          col("n_sentences") >= minSentences).cast("int"))
  }

  /** Gopher quality-filter preset (Rae et al., arXiv:2112.11446,
    * Appendix A — the public rule list; the repetition rules from the
    * same appendix live in [[repetitionStats]]). One scan-fused per-row
    * projection — no shuffle, no UDF, streams statelessly:
    *
    *  1. word count in [minWords, maxWords] (paper: 50..100 000);
    *  2. mean word length in [3, 10] chars (non-whitespace chars /
    *     words — identical to the mean over whitespace-split words);
    *  3. '#' symbol-to-word ratio ≤ 0.1;
    *  4. "..." ellipsis-to-word ratio ≤ 0.1;
    *  5. < 90 % of lines start with a bullet (•, -, *);
    *  6. < 30 % of lines end with an ellipsis;
    *  7. ≥ 80 % of words contain an alphabetic character;
    *  8. ≥ 2 distinct words from `stopwords` present (the paper's list
    *     — [[requiredStopwords]] — is the default; non-English corpora
    *     pass their own list, same ≥ 2 rule).
    *
    * Emits every document with the raw signals, one int flag per rule,
    * and the conjunction `keep` — production callers filter on `keep`,
    * audits read the flags. All signals are exact integer ratios so the
    * verdict is reproducible cross-engine.
    */
  def gopherFilter(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      stopwords: Seq[String] = requiredStopwords): DataFrame = {
    val text = col(textCol)
    val words = filter(split(translate(text, "\n", " "), " "),
      w => length(w) > 0)
    val nWords = size(words).cast("double")
    val meanLen = length(regexp_replace(text, "\\s", "")) / nWords
    val nHash = length(text) - length(translate(text, "#", ""))
    val nEllipsis = (length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val bulletLines = size(filter(lines, l =>
      substring(ltrim(l), 1, 1).isInCollection(Seq("•", "-", "*"))))
    val ellipsisLines = size(filter(lines, l =>
      substring(l, -3, 3) === "..."))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val stopHits = size(array_intersect(
      filter(split(translate(lower(text), "\n", " "), " "),
        w => length(w) > 0),
      array(stopwords.map(lit): _*)))
    df.select(col(idCol),
        nWords.cast("int").as("n_words"),
        round(meanLen, 6).as("mean_word_len"),
        round(nHash / nWords, 6).as("hash_ratio"),
        round(nEllipsis / nWords, 6).as("ellipsis_ratio"),
        round(bulletLines / nLines, 6).as("bullet_frac"),
        round(ellipsisLines / nLines, 6).as("ellipsis_line_frac"),
        round(alphaWords / nWords, 6).as("alpha_word_frac"),
        stopHits.as("n_stop_hits"),
        (nWords >= minWords && nWords <= maxWords).cast("int").as("r_words"),
        (meanLen >= 3 && meanLen <= 10).cast("int").as("r_word_len"),
        (nHash / nWords <= 0.1).cast("int").as("r_hash"),
        (nEllipsis / nWords <= 0.1).cast("int").as("r_ellipsis"),
        (bulletLines / nLines < 0.9).cast("int").as("r_bullet"),
        (ellipsisLines / nLines < 0.3).cast("int").as("r_ellipsis_line"),
        (alphaWords / nWords >= 0.8).cast("int").as("r_alpha"),
        (stopHits >= 2).cast("int").as("r_stop"))
      .withColumn("keep",
        (col("r_words") === 1 && col("r_word_len") === 1 &&
          col("r_hash") === 1 && col("r_ellipsis") === 1 &&
          col("r_bullet") === 1 && col("r_ellipsis_line") === 1 &&
          col("r_alpha") === 1 && col("r_stop") === 1).cast("int"))
  }

  /** Per-document Shannon entropy of the token distribution — the
    * lexical-diversity diagnostic complementing [[uniqueTokenRatio]]
    * (low entropy = template/spam pages even when the unique ratio
    * looks healthy). Computed distributed as ln n − (Σ c·ln c)/n from
    * ONE (doc, token) count aggregate — the identity avoids a second
    * pass for the total, and both shuffles are keyed by document, so
    * the corpus scales out embarrassingly. Also emits the entropy
    * normalized by its ln(n_distinct) maximum.
    */
  def tokenEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = graft.core.FanOut.byKey(df, idCol).select(col(idCol),
      explode(filter(split(translate(col(textCol), "\n", " "), " "),
        t => length(t) > 0)).as("tok"))
    toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum("c").cast("int").as("n_tokens"),
        count(lit(1)).cast("int").as("n_distinct"),
        (log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"))
          .as("__ent"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        round(col("__ent"), 6).as("entropy"),
        round(when(col("n_distinct") > 1,
          col("__ent") / log(col("n_distinct"))).otherwise(0.0), 6)
          .as("norm_entropy"))
  }

  /** Text-normalization preset: UAX #15 normalize (native codegen
    * expression — [[graft.functions.UnicodeNormalize]]), strip control
    * characters (keeping \n and \t), collapse space/tab runs to one
    * space, trim. One scan-fused projection; the standard cleanup pass
    * before fingerprinting/shingling so that byte-level variants of
    * canonically-equal text dedup together.
    */
  def normalizeText(text: Column, form: String = "NFC"): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.UnicodeNormalize(text, form),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  /** Gopher rule 8's required stop words (arXiv:2112.11446 App. A). */
  val requiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * SIGMOD'03; the MOSS algorithm). From every window of `w`
    * consecutive char-k-gram hashes, select the MINIMUM hash —
    * rightmost occurrence on ties (the paper's rule, which makes
    * selection depend only on local content, not alignment). The
    * selected (pos, hash) set is the fingerprint: any shared substring
    * of length ≥ w+k−1 between two documents is GUARANTEED to share a
    * fingerprint, at density 2/(w+1) — the bounded-density guarantee
    * mod-p anchor sampling ([[graft.llmdata.Dedup.exactSubstrSpans]])
    * trades away for shuffle-free selection.
    *
    * Plan: gram positions explode map-side (same k×-fan-out Generate
    * as exactSubstrSpans — never shuffles), the rolling min runs as a
    * [p, p+w) FOLLOWING-frame window PARTITIONED BY DOCUMENT (each
    * doc's hash stream sorts within its partition; nothing global),
    * and rightmost-tie selection is one lexicographic struct-min
    * `min(struct(hash, −p))` — no second pass. A window START exists
    * per position only while a full w-window remains (trailing
    * count = w); documents with fewer than w hashes winnow as a single
    * window (the guarantee is vacuous below w+k−1 anyway, but the
    * fingerprint stays non-empty). Hash = first 60 bits of md5, the
    * house cross-engine integer hash.
    *
    * Output: (idCol, pos, fp) — 0-based gram position, distinct per
    * (doc, pos).
    */
  def winnowingFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 12, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, s"k=$k and w=$w must be positive")
    // one native pass per document (graft.functions.WinnowingFp:
    // k-gram md5s + monotonic-deque rolling min, rightmost ties) —
    // no per-position explode, no per-document windows, no shuffle;
    // the exploded output is already distinct and position-ordered.
    graft.core.FanOut.byKey(df, idCol)
      .filter(length(col(textCol)) >= k)
      .select(col(idCol),
        explode(graft.functions.WinnowingFp(col(textCol), k, w)).as("__s"))
      .select(col(idCol), col("__s.pos").cast("int").as("pos"),
        col("__s.fp").as("fp"))
  }

  /** Corpus concentration report over a grouping key (source, host,
    * domain, …): per-key share of the total weight plus the scalar
    * concentration statistics a mixture designer watches — Gini
    * coefficient, Herfindahl–Hirschman index (Σ share²), and top-1 /
    * top-3 cumulative shares. The corpus reduces to a |keys|-row frame
    * in ONE hash aggregate; the rank window then runs over that tiny
    * frame only (the same per-aggregate-window shape as the ROC/Zipf
    * queries — never a window over the corpus).
    *
    * Gini over ascending per-key weights x_1..x_n:
    *   G = 2·Σ i·x_i / (n·Σx) − (n+1)/n
    * Output: (metric, value) rows, value rounded to 6.
    */
  def concentrationReport(df: DataFrame, keyCol: String,
      weightCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perKey = df.groupBy(col(keyCol))
      .agg(sum(weightCol.cast("double")).as("__w"))
    val asc = Window.orderBy(col("__w"), col(keyCol))
    val desc = Window.orderBy(col("__w").desc, col(keyCol))
    val ranked = perKey
      .withColumn("__i", row_number().over(asc))
      .withColumn("__rd", row_number().over(desc))
    val agg = ranked.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("__w")).as("tot"),
      sum(col("__w") * col("__w")).as("ww"),
      sum(col("__i") * col("__w")).as("iw"),
      sum(when(col("__rd") === 1, col("__w")).otherwise(0.0)).as("top1"),
      sum(when(col("__rd") <= 3, col("__w")).otherwise(0.0)).as("top3"))
    agg.select(explode(map(
      lit("gini"), round(lit(2.0) * col("iw") / (col("n") * col("tot"))
        - (col("n") + 1) / col("n"), 6),
      lit("hhi"), round(col("ww") / (col("tot") * col("tot")), 6),
      lit("top1_share"), round(col("top1") / col("tot"), 6),
      lit("top3_share"), round(col("top3") / col("tot"), 6),
      lit("n_keys"), col("n"))).as(Seq("metric", "value")))
      .orderBy("metric")
  }

  /** Convenience: attach the full stat block to a DataFrame. */
  def withTextStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_bpe_tokens", bpeTokenCount(t))
      .withColumn("avg_token_len", avgTokenLen(t))
      .withColumn("stopword_ratio", stopwordRatio(t, defaultStopwords))
      .withColumn("unique_ratio", uniqueTokenRatio(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", languageId(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
