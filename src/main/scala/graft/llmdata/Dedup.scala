package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.FanOut
import graft.graph.ConnectedComponents.connectedComponents

/** Deduplication operators for LLM training-data pipelines: exact,
  * fingerprint, MinHash+LSH near-dup, and SimHash. Everything is
  * expression-based except the MinHash signature pass (one per-row
  * UDF, see [[minhashSignatures]]), and each operator shuffles only on
  * the keys that actually need co-location:
  *
  *  - exact/fingerprint: one hash-shuffle on the (hashed) content key —
  *    at 100 TB, hash keys (16-byte md5) shuffle instead of documents.
  *  - MinHash LSH: a map-side signature pass (no shuffle), then a
  *    shuffle on band hash (bucket join). Candidate pairs ≪ n²; only
  *    candidates pay exact-Jaccard verification. This is the standard
  *    shingle→minhash→band→bucket-join design (Broder; MMDS ch.3).
  *  - SimHash: one aggregate per doc, then a 4-chunk pigeonhole
  *    self-join for hamming≤3 candidates (Charikar; Manku et al. WWW'07).
  *
  * Every exact pair builder (minhash, PPJoin Jaccard, containment)
  * ends in one verifier, [[verifyPairs]]: in-row `array_intersect`
  * over the candidates' shingle sets. Single-link clusters over any
  * pair list come from
  * [[graft.graph.ConnectedComponents.connectedComponents]].
  *
  * Hash families are deterministic and engine-independent (reproducible
  * in the DuckDB oracle): md5-derived 60-bit values with cheap per-seed
  * mixes by default, md5(seed ‖ shingle) for the oracle-compatible
  * minhash family (see [[minhashSignatures]]).
  */
object Dedup {

  /** Drop rows whose key-group exceeds `cap`, WITHOUT concentrating the
    * hot group on a single task first. A `count().over(Window.partitionBy
    * (keys))` would shuffle every row of a degenerate bucket onto ONE
    * task just to count-and-discard it — at 100 TB a boilerplate bucket
    * holding 5% of the corpus becomes a single-task straggler that
    * reads, spills, and throws away terabytes. Instead:
    * `groupBy(keys).count` (partial map-side aggregation is skew-safe —
    * every task pre-counts its own slice, only (key, partialCount) rows
    * shuffle) → the oversized-key set is tiny by construction (≤
    * nRows/cap keys) → broadcast it into a left-anti join, a map-only
    * filter on the original frame. No row of a hot bucket ever
    * co-locates.
    */
  private[llmdata] def dropOversized(df: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val oversized = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bs"))
      .filter(col("__bs") > cap)
      .select(keys.map(col): _*)
    df.join(broadcast(oversized), keys, "left_anti")
  }

  /** Exact duplicate groups: one representative (min id) per distinct
    * value of `cols`, with the group size.
    */
  def exact(df: DataFrame, cols: Seq[String], idCol: String): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** MinHash-LSH band planning (the S-curve analysis, Leskovec/Rajaraman
    * /Ullman, Mining of Massive Datasets §3.4.3): with k = b·r hashes in
    * b bands of r rows, a pair with Jaccard s becomes a candidate with
    * probability 1 − (1 − s^r)^b, an S-curve whose threshold sits at
    * ≈ (1/b)^(1/r). Picks the divisor pair minimizing
    * |(1/b)^(1/r) − threshold| (ties to the smaller r — cheaper bands,
    * higher recall). Driver-side arithmetic over the O(√k) divisors;
    * feed the result to [[minhashNearDupPairs]]'s (k, rowsPerBand).
    */
  def planBands(threshold: Double, k: Int): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(k > 0, s"k must be positive, got $k")
    val candidates = (1 to k).filter(k % _ == 0).map { r =>
      val b = k / r
      (b, r, math.abs(math.pow(1.0 / b, 1.0 / r) - threshold))
    }
    val best = candidates.minBy { case (_, r, err) => (err, r) }
    (best._1, best._2)
  }

  /** Candidate probability of the (b, r) scheme at Jaccard s —
    * 1 − (1 − s^r)^b, for recall/false-positive budgeting in specs and
    * presets.
    */
  def candidateProbability(b: Int, r: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, r), b)

  /** Corpus snapshot diff — the bookkeeping pass between two versions
    * of an ingested corpus (re-crawl, re-filtered dump): a full outer
    * join on the document id comparing content FINGERPRINTS (the
    * [[TextStats.fingerprint]] normalization, so whitespace/punct noise
    * is not a "change"), labelling every id added / removed / changed /
    * unchanged. One join keyed by id; fingerprints computed scan-fused
    * on each side — at 100 TB neither corpus is materialized beyond
    * (id, 32-byte fp).
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("__oid"),
      TextStats.fingerprint(col(textCol)).as("old_fp"))
    val n = newDf.select(col(idCol).as("__nid"),
      TextStats.fingerprint(col(textCol)).as("new_fp"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as(idCol),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("old_fp"), lit("")).as("old_fp"),
        coalesce(col("new_fp"), lit("")).as("new_fp"))
  }

  /** Corpus-wide line-level deduplication (the CCNet paragraph-dedup
    * pass, Wenzek et al. arXiv:1911.00359 §3.1: boilerplate —
    * navigation menus, cookie banners, footer legal lines — repeats
    * across pages and is removed by keeping each distinct line's FIRST
    * corpus occurrence). Every line is keyed by the house md5-60-bit
    * hash; the winner per key is `min(struct(id, pos))` — a map-side
    * partial aggregate, no window over the line stream — and documents
    * are rebuilt from their surviving lines in original order.
    *
    * Two shuffles total at any scale: one on the 8-byte line hash
    * (winner election), one on the doc id (rebuild); the line text
    * itself crosses the wire only for winner verification in the
    * hash-equi-join, never in a global sort.
    *
    * Returns (idCol, n_lines, n_kept, text_dedup); a document whose
    * every line lost keeps a row with text_dedup = '' and n_kept = 0.
    */
  def dedupLinesGlobal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val hashed = lines.withColumn("h",
      conv(substring(md5(col("line")), 1, 15), 16, 10).cast("long"))
    val winners = hashed.groupBy("h")
      .agg(min(struct(col(idCol), col("pos"))).as("w"))
    val kept = hashed.join(winners, "h")
      .filter(col(s"w.$idCol") === col(idCol) && col("w.pos") === col("pos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("line")))),
          s => s("line")), "\n").as("text_dedup"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol),
        size(split(col(textCol), "\n")).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).cast("int").as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** The (multiset) n-gram shingle array of one document, in-row.
    *
    * Built with zip_with over SHIFTED SLICES of the token array, not
    * `transform(positions, i => element_at(split(text), i+o))`: HOF
    * *arguments* are evaluated once per row, but expressions inside the
    * *lambda* re-evaluate per element — the element_at form re-split the
    * document for every (position, offset) pair, O(tokens²) per doc.
    * Here split() runs n times per row (the slice arguments) and each
    * zip_with lambda only concatenates.
    */
  private[llmdata] def shingleArrayExpr(textCol: String, n: Int): Column = {
    val t = split(col(textCol), " ")
    val len = greatest(size(t) - (n - 1), lit(0))
    val base = slice(t, lit(1), len)
    (1 until n).foldLeft(base)((acc, o) =>
      zip_with(acc, slice(t, lit(o + 1), len), (a, b) => concat_ws(" ", a, b)))
  }

  /** The DISTINCT shingle set of one document as an in-row array —
    * set semantics computed map-side (array_distinct is a row-local
    * hash set bounded by document length), no shuffle.
    */
  private[graft] def shingleSetExpr(textCol: String, n: Int): Column =
    array_distinct(shingleArrayExpr(textCol, n))

  /** Distinct word n-gram shingles per document: (id, shingle).
    * Dedup happens MAP-SIDE via [[shingleSetExpr]] before the explode; a
    * corpus-wide `.distinct()` on the exploded rows would shuffle the
    * full (id, shingle) stream just to remove within-document repeats.
    */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    FanOut.byKey(df, idCol)
      .select(col(idCol), explode(shingleSetExpr(textCol, n)).as("shingle"))

  /** Incremental-ingest exact dedup: drop arriving documents whose
    * normalized fingerprint already exists in the known-corpus
    * fingerprint table. One anti-join on the 32-hex fingerprint — at
    * 100 TB the known side is a fingerprint-ONLY table (16 bytes per
    * document, a tiny fraction of the corpus), and bucketing both
    * sides by fingerprint makes the recurring ingest join
    * exchange-free. The batch keeps its computed `fingerprint` column
    * so the caller can append the survivors' fingerprints to the known
    * table — the loop that keeps ingestion incremental.
    */
  def dropKnownFingerprints(batch: DataFrame, textCol: String,
      knownFps: DataFrame, fpCol: String = "fingerprint"): DataFrame =
    batch
      .withColumn("fingerprint", TextStats.fingerprint(col(textCol)))
      .join(knownFps.select(col(fpCol).as("fingerprint")),
        Seq("fingerprint"), "left_anti")

  /** Benchmark decontamination — the word-n-gram-overlap rule public
    * LLM pipelines apply before training (GPT-3 used a 13-gram filter,
    * Brown et al. 2020 §C; Gopher's train–test overlap appendix uses
    * the same shape): drop every corpus document that shares at least
    * one word n-gram with the contamination set (benchmark/eval texts).
    *
    * Plan shape for 100 TB: the contamination side is an eval suite,
    * not a corpus — its distinct shingle set is tiny and BROADCAST.
    * Corpus documents explode their distinct shingles map-side straight
    * into the broadcast left-semi join, so the full shingle stream is
    * never shuffled; only the contaminated id set (corpus-fraction-
    * sized) passes through the `distinct`, and one left-anti join on
    * the id removes those rows. Two corpus scans total.
    */
  def decontaminate(docs: DataFrame, textCol: String, idCol: String,
      contamination: DataFrame, contaminationTextCol: String,
      n: Int = 5): DataFrame = {
    val contamShingles = broadcast(contamination
      .select(explode(shingleSetExpr(contaminationTextCol, n)).as("shingle"))
      .distinct())
    val hits = docs
      .select(col(idCol), explode(shingleSetExpr(textCol, n)).as("shingle"))
      .join(contamShingles, Seq("shingle"), "left_semi")
      .select(idCol).distinct()
    docs.join(hits, Seq(idCol), "left_anti")
  }

  /** Per-document contamination FRACTION against an eval suite — the
    * graded sibling of [[decontaminate]]'s binary drop (pipelines
    * report "doc is 3% contaminated" and threshold per benchmark; the
    * GPT-3 appendix-C shape). Same 100 TB plan: the eval suite's
    * distinct shingle set broadcasts; the corpus's distinct shingles
    * explode map-side and partial-aggregate per doc — counting total
    * and hits in ONE pass via a broadcast-map membership flag, so the
    * shingle stream is exploded once and never shuffled beyond the
    * doc-keyed aggregation. Documents with fewer than n tokens have no
    * shingles: n_shingles = 0 and the fraction is 0.
    *
    * Output: (idCol, n_shingles, n_contaminated, contamination_frac).
    */
  def contaminationStats(docs: DataFrame, textCol: String, idCol: String,
      contamination: DataFrame, contaminationTextCol: String,
      n: Int = 5): DataFrame = {
    val contamShingles = broadcast(contamination
      .select(explode(shingleSetExpr(contaminationTextCol, n)).as("shingle"))
      .distinct()
      .withColumn("__hit", lit(1L)))
    val sh = docs
      .select(col(idCol), explode(shingleSetExpr(textCol, n)).as("shingle"))
      .join(contamShingles, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
    docs.select(col(idCol))
      .join(sh, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination_frac",
        when(col("n_shingles") > 0,
          round(col("n_contaminated").cast("double") /
            col("n_shingles").cast("double"), 6))
          .otherwise(lit(0.0)))
  }

  /** MessageDigest is not thread-safe and costs ~1µs to allocate;
    * one per executor thread, reset implicitly by each digest() call.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Cheap minhash family: 60-bit XOR-then-xorshift bijections.
    *
    * Values live in [0, 2^60) and the mix uses ONLY xor, logical
    * shifts, and masks — no multiplication — so the family is exactly
    * reproducible in engines whose 64-bit integer multiply raises on
    * overflow instead of wrapping (DuckDB BIGINT, the oracle engine).
    * Left shifts are masked BEFORE shifting (`(x & mask) << s` ==
    * `(x << s) & 2^60-1`) so intermediate values never exceed 60 bits,
    * keeping signed BIGINT semantics identical to the JVM's.
    *
    * Per-seed constants come from splitmix64 (Steele/Lea/Flood,
    * OOPSLA'14); each step of [[mix60]] is a bijection on Z_2^60, so
    * v_s = mix60(h ^ c_s) is a valid (Carter–Wegman-style) min-wise
    * family over the already-uniform md5-derived h.
    */
  private[llmdata] val Mask60 = (1L << 60) - 1

  private[llmdata] def splitmix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[llmdata] def cheapSeeds(k: Int): Array[Long] =
    Array.tabulate(k)(i => splitmix(i.toLong) & Mask60)

  private[llmdata] def mix60(x: Long): Long = {
    var h = x
    h ^= (h & ((1L << 47) - 1)) << 13
    h ^= h >>> 7
    h ^= (h & ((1L << 43) - 1)) << 17
    h
  }

  /** MinHash signature per document: k independent min-hashes.
    *
    * Computed ENTIRELY map-side in one tight JVM loop per row, so the
    * signature pass is shuffle-FREE — where an explode+groupBy design
    * shuffles the full shingle stream, this fuses into the scan. min
    * over the raw shingle multiset equals min over the shingle set, so
    * no distinct is needed either.
    *
    * Two hash families:
    *  - DEFAULT (`oracleCompatible = false`): each shingle is hashed
    *    ONCE (md5 → first 15 hex chars as a 60-bit value, the same
    *    truncation simhash uses), then the k per-seed values are cheap
    *    mul-free mixes `v_s = mix60(h ^ c_s)` (see [[mix60]]) with
    *    plain-min selection (values are non-negative). One digest per
    *    shingle instead of k: ~k× less hashing on the production path —
    *    AND exactly reproducible in DuckDB SQL, so the production
    *    family is hash-gated too (q_dedup_minhash_default).
    *  - `oracleCompatible = true`: min(md5(seed‖shingle)) over hex
    *    strings per seed — k full digests per shingle; the original
    *    oracle family kept for the demo-parameter gate.
    * Both emit 32-hex-char (oracle) / 15-hex-char (cheap) string
    * signature columns; downstream banding only needs equality.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, shingleN: Int = 3, oracleCompatible: Boolean = false): DataFrame = {
    val kk = k; val n = shingleN
    val sig =
      if (oracleCompatible) udf { (text: String) =>
        if (text == null) null
        else {
          // limit -1 keeps trailing empty tokens, matching Spark's
          // split(text, " ") in shingleArrayExpr and SQL string_split — the
          // default Java split would drop them, skewing signatures for
          // trailing-space documents
          val toks = text.split(" ", -1)
          if (toks.length < n) null
          else {
            val md = md5Local.get()
            val mins = Array.fill(kk)("￿")
            var i = 0
            while (i <= toks.length - n) {
              val sb = new java.lang.StringBuilder(toks(i))
              var o = 1
              while (o < n) { sb.append(' ').append(toks(i + o)); o += 1 }
              val shingle = sb.toString
              var s = 0
              while (s < kk) {
                val bytes = md.digest((s.toString + "|" + shingle).getBytes("UTF-8"))
                val hex = Dedup.toHex(bytes)
                if (hex.compareTo(mins(s)) < 0) mins(s) = hex
                s += 1
              }
              i += 1
            }
            mins.toSeq
          }
        }
      }
      else {
        val cs = cheapSeeds(kk)
        udf { (text: String) =>
          if (text == null) null
          else {
            val toks = text.split(" ", -1) // keep trailing empties (see above)
            if (toks.length < n) null
            else {
              val md = md5Local.get()
              val mins = Array.fill(kk)(Long.MaxValue)
              var i = 0
              while (i <= toks.length - n) {
                val sb = new java.lang.StringBuilder(toks(i))
                var o = 1
                while (o < n) { sb.append(' ').append(toks(i + o)); o += 1 }
                val bytes = md.digest(sb.toString.getBytes("UTF-8"))
                var h64 = 0L
                var bi = 0
                while (bi < 8) { h64 = (h64 << 8) | (bytes(bi) & 0xffL); bi += 1 }
                // first 15 hex chars = top 60 bits of the first 8 bytes
                val h = h64 >>> 4
                var s = 0
                while (s < kk) {
                  val v = mix60(h ^ cs(s))
                  if (v < mins(s)) mins(s) = v
                  s += 1
                }
                i += 1
              }
              mins.toSeq.map(v => f"${v}%015x")
            }
          }
        }
      }
    val withSig = FanOut.byKey(df, idCol)
      .select(col(idCol), sig(col(textCol)).as("__sig"))
      .filter(col("__sig").isNotNull)
    withSig.select(col(idCol) +:
      (0 until k).map(s => element_at(col("__sig"), s + 1).as(s"mh_$s")): _*)
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private[llmdata] def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = hexChars(b >>> 4)
      out(2 * i + 1) = hexChars(b & 0x0f)
      i += 1
    }
    new String(out)
  }

  /** LSH band hashes: k minhashes grouped into bands of `rowsPerBand`,
    * each band hashed to one value; docs sharing any band are candidates.
    */
  def bandHashes(sigs: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val nBands = k / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat(parts: _*)).as("bh"))
    }
    sigs.select(col(idCol), explode(array(bands: _*)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Candidate pairs (idA < idB) sharing at least one LSH band.
    *
    * Skew guard (Manku et al. WWW'07): a degenerate band value (empty
    * docs, boilerplate headers) would turn the self-join quadratic in
    * that bucket's size. Buckets with more than `maxBucketSize` members
    * are DROPPED before the join — their contents are near-certainly
    * exact/boilerplate duplicates that exact dedup (one hash shuffle)
    * catches far cheaper; run [[exact]] first in a real pipeline. The
    * join cost is then bounded by nBuckets·cap².
    */
  def candidatePairs(bands: DataFrame, idCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    val sized = dropOversized(bands, Seq("band", "bh"), maxBucketSize)
    val a = sized.select(col("band"), col("bh"), col(idCol).as("id_a"))
    val b = sized.select(col("band"), col("bh"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact verification of candidate pairs (id_a, id_b) — the tail of
    * every exact pair builder. PAIRWISE, so shingles never explode into
    * rows: semi-join the corpus down to candidate docs (broadcast —
    * bounded by the filtered candidates), attach each candidate doc's
    * in-row shingle SET, and compute c = |a ∩ b| via array_intersect —
    * two id-key joins of the (small) pair list plus map-only set
    * arithmetic, instead of fanning every pair out to its shingles.
    * `measure(c, set_a, set_b)` becomes column `measureName`; pairs
    * below `threshold` are dropped.
    *
    * `cands` is a [[FanOut.shared]] frame, released once the verified
    * pairs are materialized. The returned frame is persisted through
    * [[graft.core.Memos.persist]]; a caller done with it may
    * `.unpersist()` it early.
    */
  private def verifyPairs(cands: DataFrame, df: DataFrame, textCol: String,
      idCol: String, shingleN: Int, threshold: Double, measureName: String)(
      measure: (Column, Column, Column) => Column): DataFrame = {
    val ids = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val candDocs = df.join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col(idCol), shingleSetExpr(textCol, shingleN).as("__shs"))
    val res = FanOut.shared(cands
      .join(candDocs.select(col(idCol).as("id_a"), col("__shs").as("__sh_a")),
        Seq("id_a"))
      .join(candDocs.select(col(idCol).as("id_b"), col("__shs").as("__sh_b")),
        Seq("id_b"))
      .withColumn("c", size(array_intersect(col("__sh_a"), col("__sh_b"))))
      .withColumn(measureName, measure(col("c"), col("__sh_a"), col("__sh_b")))
      .filter(col(measureName) >= threshold)
      .select("id_a", "id_b", measureName))
    cands.unpersist(blocking = false)
    res
  }

  private def jaccardOf(c: Column, a: Column, b: Column): Column =
    c.cast("double") / (size(a) + size(b) - c)

  /** EXACT n-gram-Jaccard similarity self-join via prefix filtering
    * (SSJoin, Chaudhuri et al. ICDE'06; All-Pairs, Bayardo et al.
    * WWW'07). Unlike MinHash — probabilistic, with banding-dependent
    * recall — this returns exactly the pairs with
    * Jaccard(shingles_a, shingles_b) ≥ threshold.
    *
    * Prefix lemma: fix a global total order on shingles (ascending
    * document frequency, ties by shingle — rarest first). If J(a,b) ≥ t
    * the two sets must share at least one shingle inside each set's
    * first |x| − ⌈t·|x|⌉ + 1 shingles under that order. So candidates
    * are generated by equi-joining only on PREFIX shingles — the rarest
    * per document — and bucket sizes stay small by construction.
    * Candidate pruning beyond the prefix join (both complete):
    *  - length filter (SSJoin): J ≥ t requires t·max(|a|,|b|) ≤ min;
    *  - positional filter (PPJoin, Xiao et al. WWW'08): a shared
    *    prefix shingle at 1-based ordered positions (i, j) bounds the
    *    overlap by 1 + min(|a|−i, |b|−j); J ≥ t needs overlap ≥
    *    t/(1+t)·(|a|+|b|), so a pair survives iff SOME shared prefix
    *    row meets the bound. Complete because the globally-least
    *    common shingle of a qualifying pair sits in both prefixes with
    *    no common shingle before it (any earlier common shingle would
    *    itself be in both prefixes, contradicting minimality), making
    *    its positional bound valid and ≥ the required overlap.
    * FP hygiene: the prefix length uses floor (sz − ⌊t·sz⌋ + 1 ≥ the
    * lemma's requirement — at most one extra shingle, never too short
    * when t·sz lands on x.000…01 in binary), and the length/positional
    * filters keep an epsilon so a true J = t pair can't be dropped by
    * double rounding.
    *
    * Shuffles at 100 TB: one groupBy(shingle) for document frequencies
    * (map-side combined — (shingle, count) rows, never documents), one
    * shingle-key join back, one groupBy(id) packing each document's
    * ordered set (bounded by document length), the prefix equi-join,
    * then [[verifyPairs]] on candidates only. No window functions:
    * per-document ordering is a sort_array over the doc's own
    * (df, shingle) structs. Prefix buckets are never capped: dropping
    * one can lose the globally-least common shingle the completeness
    * proof needs.
    *
    * The returned frame is materialized and persisted through
    * [[graft.core.Memos.persist]]; a caller done with it may
    * `.unpersist()` it early. Intermediates are released eagerly inside.
    */
  def jaccardNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, shingleN: Int = 3): DataFrame = {
    val sh = shingles(df, textCol, idCol, shingleN)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val packed = sh.join(dfreq, "shingle")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ordered"))
      .withColumn("sz", size(col("ordered")))
      .withColumn("plen",
        col("sz") - floor(col("sz") * threshold).cast("int") + 1)
    val prefixes = packed
      .select(col(idCol), col("sz"),
        posexplode(slice(col("ordered"), lit(1), col("plen"))).as(Seq("i", "p")))
      .select(col(idCol), col("sz"), (col("i") + 1).as("pos"),
        col("p.shingle").as("shingle"))
    val a = prefixes.select(col("shingle"), col(idCol).as("id_a"),
      col("sz").as("sz_a"), col("pos").as("pos_a"))
    val b = prefixes.select(col("shingle"), col(idCol).as("id_b"),
      col("sz").as("sz_b"), col("pos").as("pos_b"))
    // the candidate list is read three times (two id projections +
    // verification) — share it (small by the prefix/length/positional
    // filters) so the prefix-join pipeline runs once
    val cands = FanOut.shared(a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("sz_b") >= col("sz_a") * threshold - 1e-9 &&
        col("sz_a") >= col("sz_b") * threshold - 1e-9)
      .filter(lit(1) +
        least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) >=
        (col("sz_a") + col("sz_b")) * (threshold / (1 + threshold)) - 1e-9)
      .select("id_a", "id_b").distinct())
    verifyPairs(cands, df, textCol, idCol, shingleN, threshold, "jaccard")(jaccardOf)
  }

  /** Exact containment (asymmetric-overlap) self-join: DIRECTED pairs
    * (id_a, id_b), a ≠ b, with `C(a→b) = |S_a ∩ S_b| / |S_a| ≥ t` —
    * "a's n-grams are mostly inside b". Catches boilerplate, quotes
    * and partial copies that symmetric Jaccard structurally misses
    * (J(a,b) ≤ |S_a|/|S_b|, so a small doc inside a large one can
    * never reach a high Jaccard threshold).
    *
    * Prefix lemma, containment form (SSJoin — Chaudhuri et al.
    * ICDE'06): the required overlap o = ⌈t·|a|⌉ depends only on the
    * CONTAINED side, so if none of a's first |a| − o + 1 shingles
    * under the global df order were shared with b, at most o − 1
    * shared elements remain — a's prefix must hit every qualifying b.
    * The containing side gets NO prefix bound from t (its overlap
    * elements may sit anywhere in its order), so b joins with its
    * FULL ordered set; only the weak size filter |b| ≥ t·|a| − ε
    * applies. ε-hygiene as in [[jaccardNearDupPairs]] (ceil with a
    * 1e-9 slack never under-sizes the prefix).
    *
    * Cost shape at 100 TB: prefix(a)-stream ⋈ full(b)-stream on the
    * shingle key — inherently heavier than the symmetric join's
    * prefix⋈prefix (the unprefixed side is the price of asymmetry);
    * reach for minhash first at that scale. Verification is
    * [[verifyPairs]] on the candidates, never a shingle fan-out.
    *
    * The returned frame is materialized and persisted through
    * [[graft.core.Memos.persist]]; a caller done with it may
    * `.unpersist()` it early.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, shingleN: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val sh = shingles(df, textCol, idCol, shingleN)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val packed = sh.join(dfreq, "shingle")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ordered"))
      .withColumn("sz", size(col("ordered")))
    val aPref = packed
      .select(col(idCol).as("id_a"), col("sz").as("sz_a"),
        explode(slice(col("ordered"), lit(1),
          (col("sz") - ceil(col("sz") * threshold - 1e-9) + 1).cast("int")))
          .as("p"))
      .select(col("id_a"), col("sz_a"), col("p.shingle").as("shingle"))
    val bFull = packed
      .select(col(idCol).as("id_b"), col("sz").as("sz_b"),
        explode(col("ordered")).as("q"))
      .select(col("id_b"), col("sz_b"), col("q.shingle").as("shingle"))
    val cands = FanOut.shared(aPref.join(bFull, Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("sz_b") >= col("sz_a") * threshold - 1e-9)
      .select("id_a", "id_b").distinct())
    verifyPairs(cands, df, textCol, idCol, shingleN, threshold, "containment")(
      (c, a, _) => c.cast("double") / size(a))
  }

  /** Full MinHash-LSH near-duplicate pipeline: candidate generation via
    * banding, then exact-Jaccard verification ([[verifyPairs]]),
    * keeping pairs ≥ threshold.
    *
    * EAGER: materializes intermediate frames to release their caches as
    * it goes (signatures after banding, candidates after verification).
    * The returned pair frame is persisted through
    * [[graft.core.Memos.persist]] — small by construction (bounded by
    * the verified candidates) — and callers that are done with it may
    * `.unpersist()` it early.
    */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, k: Int = 64, rowsPerBand: Int = 4,
      shingleN: Int = 3, maxBucketSize: Int = 1000,
      oracleCompatible: Boolean = false): DataFrame = {
    // the signature pass is SHUFFLE-FREE (one map-side UDF over the
    // in-row shingles — see minhashSignatures); only the tiny
    // signature/band frames and the candidate verification ever shuffle.
    // The candidate plan reads the SIGNATURES (k hashes + id per doc,
    // tiny next to the corpus) from four branches (skew-cap count +
    // anti-join × self-join a/b) that AQE runs as CONCURRENT stages —
    // against a lazily-populated cache each branch re-ran the
    // per-shingle hashing UDF in parallel (4× the scan work, measured
    // r14); sharing them eagerly pays the scan once
    val sigs = FanOut.shared(
      minhashSignatures(df, textCol, idCol, k, shingleN, oracleCompatible))
    val cands = FanOut.shared(candidatePairs(
      bandHashes(sigs, idCol, k, rowsPerBand), idCol, maxBucketSize))
    sigs.unpersist(blocking = false)
    verifyPairs(cands, df, textCol, idCol, shingleN, threshold, "jaccard")(jaccardOf)
  }

  /** 60-bit SimHash per document, fully expression-based: per token a
    * 60-bit hash (15 hex chars of md5), per bit a ±1 vote weighted by
    * term frequency (Charikar's weighted form — unweighted collapses on
    * small shared vocabularies), sign → bit.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 60): DataFrame = {
    require(bits <= 60, "md5-15-hex hash carries 60 bits")
    val tok = FanOut.byKey(df, idCol)
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$j"))
    val agg = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val hash = (0 until bits).map(j =>
      when(col(s"v_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col(idCol), hash.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming via the
    * pigeonhole band join: split the hash into (maxHamming+1) chunks —
    * any pair within distance must agree on ≥1 chunk exactly.
    *
    * The returned frame is materialized and persisted through
    * [[graft.core.Memos.persist]]; a caller done with it may
    * `.unpersist()` it early (the simhash intermediate is released
    * eagerly inside).
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bits: Int = 60,
      maxBucketSize: Int = 1000): DataFrame = {
    // the skew cap + self-join read the hash frame three times; simhash
    // is a full token-explode aggregate, so cache its (id, hash) output
    // (16 bytes/doc) rather than recompute the shuffle per read
    val sh = simhash(df, textCol, idCol, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val res = hammingNearDupPairs(sh, idCol, "simhash", maxHamming, bits,
      maxBucketSize)
    sh.unpersist(blocking = false)
    res
  }

  /** Generic Hamming-band near-dup join over ANY per-row bit-hash
    * column (SimHash text fingerprints, dHash perceptual image hashes):
    * split the hash into (maxHamming+1) equal chunks — by pigeonhole,
    * two hashes within the distance agree on at least one chunk exactly
    * — equi-join on (chunk, value), verify with one bit_count(xor).
    * `bits` must divide evenly into the chunks or boundary bits would
    * escape the pigeonhole argument (e.g. 60 bits / ≤3 distance,
    * 64 bits / 7 distance).
    *
    * Scale: the corpus never self-joins on raw content — candidates are
    * generated per chunk bucket with the same Manku-style skew cap as
    * the minhash path (a hot chunk value would square inside one task),
    * and the returned frame is a [[FanOut.shared]] frame (caller owns
    * the cache).
    */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bits: Int, maxBucketSize: Int = 1000): DataFrame = {
    val nChunks = maxHamming + 1
    require(bits % nChunks == 0,
      s"bits=$bits must split evenly into ${nChunks} chunks for the pigeonhole")
    val chunkBits = bits / nChunks
    val chunks = (0 until nChunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col(hashCol), c * chunkBits)
          .bitwiseAND((1L << chunkBits) - 1).as("cv"))
    }
    val banded = dropOversized(
      hashes.select(col(idCol), col(hashCol), explode(array(chunks: _*)).as("b"))
        .select(col(idCol), col(hashCol),
          col("b.chunk").as("chunk"), col("b.cv").as("cv")),
      Seq("chunk", "cv"), maxBucketSize)
    val a = banded.select(col("chunk"), col("cv"),
      col(idCol).as("id_a"), col(hashCol).as("sh_a"))
    val b = banded.select(col("chunk"), col("cv"),
      col(idCol).as("id_b"), col(hashCol).as("sh_b"))
    FanOut.shared(a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming))
  }

  /** Exact-substring duplicated spans (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * their ExactSubstr pass removes character runs that recur anywhere
    * in the corpus, which document-level fingerprints structurally
    * miss). The reference builds a corpus-wide suffix array; that is a
    * sequential construction with no good 1000-executor analog, so this
    * re-expression uses content-defined fingerprint sampling (Manber,
    * USENIX'94 "mod-p" anchors; the winnowing family):
    *
    *  1. every char k-gram is generated map-side (codegen Generate — a
    *     k× fan-out that never shuffles),
    *  2. a gram is SAMPLED iff its md5 starts with `sampleHexPrefix` —
    *     selection depends only on content, so two copies of a run
    *     sample the SAME grams regardless of their alignment in each
    *     document (a fixed-stride sample would miss misaligned copies);
    *     only the ~1/16th sampled grams ever shuffle,
    *  3. a sampled gram occurring >1 times corpus-wide marks both its
    *     occurrences' [p, p+k) spans as duplicated (shuffle on gram —
    *     hot grams are bounded by the sample rate, and behave as
    *     ordinary skewed agg keys: partial aggregation pre-counts),
    *  4. overlapping spans merge per document (gaps-and-islands window
    *     PARTITIONED BY DOC — never a global sort).
    *
    * Expected detection: a duplicated run of length L contains ~L/16
    * sampled anchors (miss probability (15/16)^(L-k+1) — negligible
    * beyond a few hundred chars); spans are exact around each anchor.
    * Returns one row per merged span: (idCol, span_start, span_end),
    * 0-based char offsets, end exclusive.
    */
  def exactSubstrSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 25, sampleHexPrefix: String = "0"): DataFrame = {
    require(k > 0 && sampleHexPrefix.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    // Positions explode BEFORE gram construction (a plain int Generate;
    // building array<struct<pos,gram>> per doc would materialize every
    // gram string up front), and only the ~16th that survive the anchor
    // filter are cached: both consumers below (global dup counting and
    // the mark join) then pay the k×-fan-out generation + md5 ONCE.
    val grams = FanOut.byKey(df, idCol)
      .filter(length(col(textCol)) >= k)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0), length(col(textCol)) - k)).as("p"))
      .select(col(idCol), col("p"),
        col(textCol).substr(col("p") + lit(1), lit(k)).as("gram"))
      .filter(substring(md5(col("gram")), 1, sampleHexPrefix.length)
        === sampleHexPrefix)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // grams recurring corpus-wide: tiny by construction -> the semi join
    // back is a broadcast (no shuffle of the anchor stream, no hot-key
    // task concentration — same skew posture as dropOversized).
    val dup = grams.groupBy("gram").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("gram")
    val marked = grams.join(dup, Seq("gram"), "left_semi")
    val wPrev = Window.partitionBy(idCol).orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevEnd = max(col("p") + k).over(wPrev)
    val spans = graft.core.Memos.persist(marked
      .withColumn("__new", when(prevEnd.isNull || col("p") > prevEnd, 1)
        .otherwise(0))
      .withColumn("__island", sum(col("__new")).over(wRun))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("p")).as("span_start"), (max(col("p")) + k).as("span_end"))
      .drop("__island"))
    spans.count() // materialize the (bounded, merged) span set ...
    grams.unpersist(blocking = false) // ... then release the anchor cache
    spans
  }

  /** Per-document summary of [[exactSubstrSpans]]: span count, duplicated
    * char total, duplicated fraction of the document. Every input doc
    * appears (zero-span docs included).
    */
  def exactSubstrStats(df: DataFrame, textCol: String, idCol: String,
      k: Int = 25, sampleHexPrefix: String = "0"): DataFrame = {
    val st = exactSubstrSpans(df, textCol, idCol, k, sampleHexPrefix)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).cast("long").as("dup_chars"))
    df.select(col(idCol), length(col(textCol)).as("__len"))
      .join(st, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dup_chars"), lit(0L)) /
          col("__len").cast("double"), 6).as("dup_frac"))
  }

  /** Apply [[exactSubstrSpans]]: cut the duplicated spans out of each
    * document (the Lee et al. ExactSubstr action — span removal, not
    * doc dropping). Spans are collected per doc (bounded: spans are
    * merged and disjoint, ≤ len/k of them) and stitched with one
    * `aggregate` higher-order expression — no UDF, no driver loop.
    * Adds `text_dedup`; docs without spans pass through unchanged.
    */
  def removeSpans(df: DataFrame, spans: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val sp = spans.groupBy(idCol)
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__sp"))
    df.join(sp, Seq(idCol), "left")
      .withColumn("text_dedup",
        when(col("__sp").isNull, col(textCol)).otherwise(
          aggregate(col("__sp"),
            struct(lit(0).as("pos"), lit("").as("acc")),
            (acc, x) => struct(
              x("e").as("pos"),
              concat(acc("acc"), col(textCol)
                .substr(acc("pos") + lit(1), x("s") - acc("pos"))).as("acc")),
            acc => concat(acc("acc"), col(textCol)
              .substr(acc("pos") + lit(1),
                length(col(textCol)) - acc("pos"))))))
      .drop("__sp")
  }

  /** PAIRWISE near-dup drop: removes the larger id of each verified
    * pair — NOT single-link clustering. For pairs (a,c),(b,c) with
    * a<b<c this keeps BOTH a and b (c is dropped twice); single-link
    * semantics would keep only a. This is the cheap one-join policy
    * appropriate when pairs are near-transitive anyway (high
    * thresholds); for true cluster semantics use
    * [[dropNearDuplicatesTransitive]].
    */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val toDrop = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(toDrop, Seq(idCol), "left_anti")
  }

  /** Single-link dedup: keep exactly ONE representative (the least id)
    * per connected component of the pair graph — the cluster semantics
    * [[dropNearDuplicates]] deliberately skips.
    */
  def dropNearDuplicatesTransitive(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val toDrop = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(toDrop, Seq(idCol), "left_anti")
  }

  /** Keep exactly one row per key: the highest `scoreCol`, ties broken
    * by least `idCol` — the RefinedWeb URL-dedup policy (one page per
    * canonical URL, keep the best-quality capture) and the
    * representative-selection step of quality-aware near-dup dedup.
    *
    * ONE partial-aggregated shuffle: the election is
    * `min(struct(-score, id, row))` — lexicographic struct order gives
    * (score desc, id asc), the full row rides the struct, and ids are
    * unique so comparison never reaches the payload. No join back, no
    * window (`row_number().over(partitionBy(key))` would ship whole key
    * groups to single tasks; the aggregate caps each partition's
    * contribution at one row per key before the exchange).
    *
    * Requires a numeric, non-null `scoreCol` (negation is the order
    * flip) and per-row-distinct `idCol`.
    */
  def keepBestByKey(df: DataFrame, keyCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(col(keyCol))
      .agg(min(struct((-col(scoreCol)).cast("double").as("__ns"),
        col(idCol).as("__id"), payload.as("__row"))).as("__w"))
      .select(col("__w.__row.*"))
  }

  /** Quality-aware single-link dedup: within every near-dup cluster
    * keep the BEST-scoring document (ties → least id) instead of the
    * least-id one [[dropNearDuplicatesTransitive]] keeps — the policy
    * real pipelines want when a quality signal exists (drop the noisy
    * capture, keep the clean one).
    *
    * The label frame is pair-graph-sized (≪ corpus at sane
    * thresholds), so the membership join broadcasts; unclustered
    * documents pass through untouched, winners come from ONE
    * [[keepBestByKey]] aggregation over the clustered slice.
    */
  def dropNearDuplicatesKeepBest(df: DataFrame, pairs: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val labels = broadcast(
      connectedComponents(pairs).withColumnRenamed("id", idCol))
    val labeled = df.join(labels, Seq(idCol), "left")
    val winners = keepBestByKey(
      labeled.filter(col("cluster").isNotNull), "cluster", scoreCol, idCol)
    labeled.filter(col("cluster").isNull).drop("cluster")
      .unionByName(winners.drop("cluster"))
  }

  /** Leakage-safe train/val/test assignment: the split is hashed on
    * the near-dup CLUSTER id, not the document id, so near-duplicates
    * can never straddle splits — the contamination guard a training
    * pipeline needs BEFORE the split touches an eval set (a doc-keyed
    * hash split leaks every near-dup pair whose members land apart;
    * see Lee et al. dedup → eval-overlap line of work). Unclustered
    * documents are their own singleton cluster (cluster = doc id).
    *
    * `bounds` are (name, hi) CASE edges over pmod(h60(cluster), mod):
    * bucket < hi₁ → name₁, else < hi₂ → name₂, …; the last name takes
    * the remainder. Everything is h60 + integer CASE — exact
    * cross-engine.
    *
    * @return (doc_id, cluster, split) one row per document
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      salt: String = "clsplit",
      bounds: Seq[(String, Long)] = Seq(("train", 8L), ("val", 9L)),
      lastName: String = "test", mod: Long = 10L): DataFrame = {
    require(bounds.nonEmpty && bounds.map(_._2) == bounds.map(_._2).sorted
      && bounds.last._2 <= mod, s"bad split bounds: $bounds / $mod")
    val labels = broadcast(connectedComponents(pairs)
      .select(col("id"), col("cluster")))
    val b = graft.core.Hashing.bucket(col("cluster"), salt, mod)
    val splitCol = bounds.foldRight(lit(lastName): Column) {
      case ((nm, hi), acc) => when(b < lit(hi), lit(nm)).otherwise(acc)
    }
    docs.select(col(idCol).as("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .select(col("doc_id"), col("cluster"), splitCol.as("split"))
  }

  /** Split audit: per-split document/cluster counts plus the global
    * count of near-dup pairs straddling two splits — ZERO by
    * construction under [[leakageSafeSplit]], and the row a pipeline
    * alerts on if anyone swaps in a doc-keyed split. The pair frame
    * joins the assignment twice (renamed — the self-join convention);
    * the 1-row leak count broadcasts onto the ≤|splits| summary.
    */
  def splitLeakage(assign: DataFrame, pairs: DataFrame): DataFrame = {
    val a = assign.select(col("doc_id").as("__pa"), col("split").as("__sa"))
    val bb = assign.select(col("doc_id").as("__pb"), col("split").as("__sb"))
    val leak = broadcast(pairs
      .join(a, col("id_a") === col("__pa"))
      .join(bb, col("id_b") === col("__pb"))
      .agg(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L))
        .as("__raw"))
      .select(coalesce(col("__raw"), lit(0L)).as("n_leaky_pairs")))
    assign.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("cluster")).as("n_clusters"))
      .crossJoin(leak)
  }
}
