package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Memos, Tables}
import graft.functions.{UnigramEncode, UnigramModel}

/** In-repo unigram-LM subword tokenizer trainer (Kudo, arXiv:1804.10959
  * — the SentencePiece unigram family, the other production tokenizer
  * family besides BPE): seed a bounded candidate vocabulary from word
  * substrings, run EM over expected piece counts (forward–backward on
  * each word's segmentation lattice), prune the piece set between
  * rounds, and emit integer micro-unit log-prob scores. Inference is
  * Viterbi segmentation ([[graft.functions.UnigramEncode]], a codegen
  * expression), exactly mirrored by a generated DuckDB DP oracle.
  *
  * Scale posture — the [[Bpe]] contract: the word table is ONE
  * aggregation bounded to the top `maxWords` by (count desc, word asc);
  * at 100 TB the shuffle carries (word, count) pairs and the driver
  * holds `maxWords` strings. EM itself touches only that driver-side
  * table (per word O(len·maxPieceLen) lattice spans, microseconds).
  * Both the cut and every tie-break are deterministic, so the piece
  * table is a pure function of the corpus — which is what lets the
  * oracle embed it as literal VALUES.
  *
  * Exactness: EM trains in driver doubles, but the HANDOFF to scoring
  * is quantized — round(ln p · 1e6) BIGINT scores (the integer-weight
  * convention), so the Viterbi DP is integer arithmetic on both
  * engines. Ties at a position break toward the longer piece; the
  * oracle's backward pass applies the same longest-first rule.
  */
object Unigram {

  /** Longest candidate piece in code points (DP lookback window — the
    * oracle unrolls exactly this many join arms per recursion step).
    */
  val MaxPieceLen = 6

  /** Multi-char candidates seeded (top by occurrence-count weight). */
  val SeedMulti = 128

  /** Multi-char pieces kept after each EM round (single chars are
    * always kept — full coverage). The final size forces longer words
    * to segment, which is what the gate exercises.
    */
  val PruneSizes = Seq(64, 40, 24)

  private def lse(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else {
      val m = math.max(a, b)
      m + math.log(math.exp(a - m) + math.exp(b - m))
    }

  /** One E-step: expected piece counts over every word's segmentation
    * lattice (forward–backward in log space, word-count weighted).
    * `pieceIdx` must contain every single code point of every word.
    */
  private def eStep(words: Array[(Array[Int], Long)],
      pieceIdx: java.util.HashMap[String, java.lang.Integer],
      lp: Array[Double]): Array[Double] = {
    val expected = new Array[Double](lp.length)
    words.foreach { case (cps, c) =>
      val n = cps.length
      if (n > 0) {
        // span piece index, -1 if absent: spanIdx(j)(l-1) for end j, len l
        val spanIdx = Array.tabulate(n + 1) { j =>
          if (j == 0) Array.empty[Int]
          else Array.tabulate(math.min(MaxPieceLen, j)) { li =>
            val l = li + 1
            val idx = pieceIdx.get(new String(cps, j - l, l))
            if (idx == null) -1 else idx.intValue()
          }
        }
        val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        var j = 1
        while (j <= n) {
          val row = spanIdx(j)
          var li = 0
          while (li < row.length) {
            if (row(li) >= 0)
              alpha(j) = lse(alpha(j), alpha(j - li - 1) + lp(row(li)))
            li += 1
          }
          j += 1
        }
        val beta = Array.fill(n + 1)(Double.NegativeInfinity)
        beta(n) = 0.0
        var i = n - 1
        while (i >= 0) {
          // spans starting at i have end j = i + l
          var l = 1
          while (l <= math.min(MaxPieceLen, n - i)) {
            val idx = spanIdx(i + l)(l - 1)
            if (idx >= 0) beta(i) = lse(beta(i), lp(idx) + beta(i + l))
            l += 1
          }
          i -= 1
        }
        val z = alpha(n)
        if (z != Double.NegativeInfinity) {
          j = 1
          while (j <= n) {
            val row = spanIdx(j)
            var li = 0
            while (li < row.length) {
              if (row(li) >= 0)
                expected(row(li)) +=
                  c * math.exp(alpha(j - li - 1) + lp(row(li)) + beta(j) - z)
              li += 1
            }
            j += 1
          }
        }
      }
    }
    expected
  }

  private def normalize(expected: Array[Double]): Array[Double] = {
    val tot = expected.sum
    expected.map(e => math.log(math.max(e, 1e-12) / tot))
  }

  /** Learn a piece table from `textCol`'s whitespace tokens. */
  def train(docs: DataFrame, textCol: String,
      maxWords: Int = 4096): UnigramModel = {
    val wordRows: Array[(String, Long)] = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("|"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val words: Array[(Array[Int], Long)] =
      wordRows.map { case (w, c) => (w.codePoints().toArray, c) }
    // seed: every single code point (coverage) + top multi-char
    // substrings by occurrence-count weight
    val freq = new java.util.HashMap[String, Long]()
    words.foreach { case (cps, c) =>
      var i = 0
      while (i < cps.length) {
        var l = 1
        while (l <= math.min(MaxPieceLen, cps.length - i)) {
          val p = new String(cps, i, l)
          freq.merge(p, c, (a, b) => a + b)
          l += 1
        }
        i += 1
      }
    }
    import scala.jdk.CollectionConverters._
    val allFreq = freq.asScala.toSeq
    def isSingle(p: String) = p.codePointCount(0, p.length) == 1
    val singles = allFreq.filter(t => isSingle(t._1))
      .map(_._1).sorted.toArray
    val multis0 = allFreq.filter(t => !isSingle(t._1))
      .sortBy { case (p, c) => (-c, p) }
      .take(SeedMulti).map(_._1).sorted.toArray
    var pieces: Array[String] = (singles ++ multis0).sorted
    def idxOf(ps: Array[String]): java.util.HashMap[String, java.lang.Integer] = {
      val m = new java.util.HashMap[String, java.lang.Integer](ps.length * 2)
      ps.indices.foreach(i => m.put(ps(i), Int.box(i)))
      m
    }
    // init: occurrence-frequency-proportional probabilities
    val totF = pieces.map(p => freq.get(p)).sum.toDouble
    var lp: Array[Double] = pieces.map(p => math.log(freq.get(p) / totF))
    PruneSizes.foreach { sz =>
      val expected = eStep(words, idxOf(pieces), lp)
      lp = normalize(expected)
      // prune: keep all single code points (coverage) + top `sz`
      // multi-char pieces by (expected count desc, piece asc)
      val byPiece = pieces.indices.map(i => (pieces(i), expected(i))).toMap
      val keptMulti = pieces.filter(p => !isSingle(p))
        .sortBy(p => (-byPiece(p), p)).take(sz)
      val kept = (pieces.filter(isSingle) ++ keptMulti).sorted
      val keepIdx = kept.map(p => pieces.indexOf(p))
      val rawLp = keepIdx.map(lp)
      // renormalize the kept mass to a distribution
      val z = rawLp.reduce(lse)
      pieces = kept
      lp = rawLp.map(_ - z)
    }
    // settle probabilities on the final set
    lp = normalize(eStep(words, idxOf(pieces), lp))
    val scores = lp.map(v => math.round(v * 1e6))
    val unk = scores.min - 10000000L
    new UnigramModel(pieces, scores, unk)
  }

  /** Piece table trained once per data dir on the documents table —
    * the [[Bpe.trained]] pattern: deterministic function of the dir,
    * memoized for the JVM session, embeddable as oracle VALUES.
    */
  val trained = Memos.memo { (s, dir) =>
    train(Tables.documents(s, dir), "text")
  }

  /** English-only-trained variant (the coverage-gap probe: a tokenizer
    * trained on one language is evaluated for out-of-vocabulary rate
    * on every other — q_tokenizer_coverage). Same memo contract.
    */
  val trainedEn = Memos.memo { (s, dir) =>
    train(Tables.documents(s, dir).filter(col("lang") === "en"), "text")
  }

  def encodeExpr(text: Column, model: UnigramModel): Column =
    UnigramEncode(text, model)

  private def esc(s: String): String = s.replace("'", "''")

  /** DuckDB CTE chain ending in `utok(doc_id, pos, token)` and
    * `un(doc_id, n_uni)` — a span-for-span mirror of
    * [[graft.functions.UnigramEncode]]: same single-space word split,
    * forward Viterbi DP as a recursive CTE carrying a
    * [[MaxPieceLen]]-wide window of dp values (integer scores, so the
    * max is exact), backward path reconstruction picking the LONGEST
    * piece length whose score closes the dp equality at each position
    * (the expression's tie-break), tokens re-ordered per document by
    * (word position, span start). MUST follow a `WITH RECURSIVE`
    * header. No fallback branch: unknown single code points carry the
    * trained unk score on both sides.
    */
  def unigramCteSql(model: UnigramModel,
      src: String = "documents"): String = {
    val k = MaxPieceLen
    // far below any reachable dp value; adding a score cannot overflow
    val sent = "-4611686018427387904"
    val vals = model.pieces.indices.map { i =>
      s"('${esc(model.pieces(i))}',CAST(${model.scores(i)} AS BIGINT))"
    }.mkString(",")
    val sCols = (1 to k).map(i => s"s$i").mkString(", ")
    val fwdInit = (1 to k).map {
      case 1 => "CAST(0 AS BIGINT)"
      case _ => s"CAST($sent AS BIGINT)"
    }.mkString(", ")
    val fwdBest = (1 to k).map { l =>
      s"coalesce(c$l.sc + f.s$l, CAST($sent AS BIGINT))"
    }.mkString(",\n       ")
    val fwdCarry = (1 to k - 1).map(l => s"f.s$l").mkString(", ")
    val fwdJoins = (1 to k).map { l =>
      s"  LEFT JOIN ucand c$l ON c$l.w = f.w AND c$l.j = f.j + 1 AND c$l.l = $l"
    }.mkString("\n")
    val backJoins = (1 to k).map { l =>
      s"""  LEFT JOIN ucand c$l ON c$l.w = b.w AND c$l.j = b.j AND c$l.l = $l
         |  LEFT JOIN udp d$l ON d$l.w = b.w AND d$l.j = b.j - $l""".stripMargin
    }.mkString("\n")
    val pickCase = "CASE\n" + (k to 1 by -1).map { l =>
      s"      WHEN c$l.sc IS NOT NULL AND d$l.sc IS NOT NULL" +
        s" AND c$l.sc + d$l.sc = dj.sc THEN CAST($l AS BIGINT)"
    }.mkString("\n") + "\n      END"
    s"""upc(piece, sc) AS (SELECT * FROM (VALUES $vals)),
       |uww AS (SELECT doc_id, wp, w FROM (SELECT doc_id,
       |    generate_subscripts(string_split(text, ' '), 1) AS wp,
       |    unnest(string_split(text, ' ')) AS w FROM $src)
       |  WHERE w != ''),
       |udw AS (SELECT DISTINCT w FROM uww),
       |ucand AS (
       |  SELECT u.w, u.j, l.l,
       |    coalesce(p.sc, CAST(${model.unkScore} AS BIGINT)) AS sc
       |  FROM (SELECT w, unnest(range(1, length(w) + 1)) AS j FROM udw) u
       |  CROSS JOIN (SELECT unnest(range(1, ${k + 1})) AS l) l
       |  LEFT JOIN upc p
       |    ON p.piece = substr(u.w, CAST(u.j - l.l + 1 AS INT), CAST(l.l AS INT))
       |  WHERE l.l <= u.j AND (p.sc IS NOT NULL OR l.l = 1)),
       |ufwd(w, j, $sCols) AS (
       |  SELECT w, CAST(0 AS BIGINT), $fwdInit FROM udw
       |  UNION ALL
       |  SELECT f.w, f.j + 1,
       |    greatest($fwdBest),
       |    $fwdCarry
       |  FROM ufwd f
       |$fwdJoins
       |  WHERE f.j < length(f.w)),
       |udp AS (SELECT w, j, s1 AS sc FROM ufwd),
       |uback(w, j, l) AS (
       |  SELECT w, CAST(length(w) AS BIGINT), CAST(0 AS BIGINT) FROM udw
       |  UNION ALL
       |  SELECT b.w,
       |    b.j - $pickCase,
       |    $pickCase
       |  FROM uback b
       |  JOIN udp dj ON dj.w = b.w AND dj.j = b.j
       |$backJoins
       |  WHERE b.j > 0),
       |utokw AS (SELECT w, j AS st,
       |    substr(w, CAST(j + 1 AS INT), CAST(l AS INT)) AS token
       |  FROM uback WHERE l > 0),
       |utok AS (SELECT ww.doc_id,
       |    CAST(row_number() OVER (PARTITION BY ww.doc_id
       |      ORDER BY ww.wp, t.st) - 1 AS INT) AS pos,
       |    t.token
       |  FROM uww ww JOIN utokw t ON t.w = ww.w),
       |un AS (SELECT d.doc_id, CAST(coalesce(c.cnt, 0) AS INT) AS n_uni
       |  FROM $src d LEFT JOIN (SELECT doc_id, count(*) AS cnt
       |    FROM utok GROUP BY doc_id) c USING (doc_id))""".stripMargin
  }
}
