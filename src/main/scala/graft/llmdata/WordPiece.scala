package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Memos, Tables}
import graft.functions.{WordPieceEncode, WordPieceModel}

/** In-repo WordPiece trainer (Schuster & Nakajima, "Japanese and Korean
  * voice search", ICASSP 2012 — the BERT tokenizer family, the third
  * production subword family beside BPE and the unigram LM; merge-score
  * form per the public HuggingFace tokenizers WordPiece trainer): like
  * BPE the learner repeatedly merges adjacent symbol pairs of a
  * frequency-weighted word table, but the pair chosen maximizes the
  * LIKELIHOOD score count(ab) / (count(a)·count(b)) instead of the raw
  * pair count — the greedy step that most increases corpus likelihood
  * under a unigram piece model. Word-internal continuation symbols
  * carry the `##` marker; the final vocabulary is the initial alphabet
  * plus every merge output, and inference is greedy longest-match-first
  * ([[graft.functions.WordPieceEncode]], a codegen expression) exactly
  * mirrored by a generated DuckDB recursive-CTE oracle.
  *
  * Scale posture — the [[Bpe]] contract: the word table is ONE
  * aggregation bounded to the top `maxWords` by (count desc, word asc);
  * at 100 TB the shuffle carries (word, count) pairs and the driver
  * holds `maxWords` strings. The merge loop touches only that
  * driver-side table. Both the cut and every tie-break are
  * deterministic, so the vocabulary is a pure function of the corpus —
  * which is what lets the oracle embed it as literal VALUES.
  *
  * Exactness: scores are compared by BigInt cross-multiplication
  * (c₁·a₂·b₂ vs c₂·a₁·b₁ — no float ratio anywhere, so two pairs with
  * equal rational scores tie exactly and break to the lexicographically
  * smallest (left, right)). Inference is greedy with no scores at all.
  */
object WordPiece {

  /** Longest piece SURFACE (code points, marker excluded) a merge may
    * produce — bounds the oracle's per-step join arms (the
    * [[Unigram.MaxPieceLen]] convention). Pairs whose merged surface
    * would exceed this are skipped, not merged.
    */
  val MaxPieceLen = 6

  val NumMerges = 48

  private def surfaceLen(sym: String): Int = {
    val s = if (sym.startsWith("##")) sym.substring(2) else sym
    s.codePointCount(0, s.length)
  }

  /** Learn a vocabulary from `textCol`'s whitespace tokens. Stops early
    * when no adjacent pair occurs at least twice (the [[Bpe.train]]
    * singleton rule).
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int = NumMerges,
      maxWords: Int = 4096): WordPieceModel = {
    val words: Array[(String, Long)] = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("#"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var states: Array[(Array[String], Long)] = words.map { case (w, c) =>
      val cps = w.codePoints().toArray
      val syms = Array.tabulate(cps.length) { i =>
        if (i == 0) new String(cps, i, 1) else "##" + new String(cps, i, 1)
      }
      (syms, c)
    }
    val alphabet = states.iterator.flatMap(_._1).toArray.distinct.sorted
    val mergeOut = scala.collection.mutable.ArrayBuffer[String]()
    var go = true
    while (mergeOut.length < numMerges && go) {
      val symCount = scala.collection.mutable.HashMap[String, Long]()
      val pairCount = scala.collection.mutable.HashMap[(String, String), Long]()
      states.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length) {
          symCount.update(syms(i), symCount.getOrElse(syms(i), 0L) + c)
          if (i < syms.length - 1) {
            val p = (syms(i), syms(i + 1))
            pairCount.update(p, pairCount.getOrElse(p, 0L) + c)
          }
          i += 1
        }
      }
      val candidates = pairCount.iterator.filter { case ((a, b), c) =>
        c >= 2 && surfaceLen(a) + surfaceLen(b) <= MaxPieceLen
      }.toSeq
      if (candidates.isEmpty) go = false
      else {
        // likelihood score c(ab)/(c(a)c(b)) compared exactly by BigInt
        // cross-multiplication; ties break to the smallest (left, right)
        val best = candidates.reduceLeft { (x, y) =>
          val ((xa, xb), xc) = x
          val ((ya, yb), yc) = y
          val lhs = BigInt(xc) * BigInt(symCount(ya)) * BigInt(symCount(yb))
          val rhs = BigInt(yc) * BigInt(symCount(xa)) * BigInt(symCount(xb))
          val cmp = lhs.compare(rhs)
          if (cmp > 0) x
          else if (cmp < 0) y
          else if (implicitly[Ordering[(String, String)]]
              .compare((xa, xb), (ya, yb)) <= 0) x
          else y
        }
        val (l, r) = best._1
        val merged = l + (if (r.startsWith("##")) r.substring(2) else r)
        mergeOut += merged
        states = states.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                out += merged
                i += 2
              } else {
                out += syms(i)
                i += 1
              }
            }
            (out.toArray, c)
          }
        }
      }
    }
    new WordPieceModel((alphabet ++ mergeOut).distinct.sorted)
  }

  /** Vocabulary trained once per data dir on the documents table — the
    * [[Bpe.trained]] pattern: deterministic function of the dir,
    * memoized for the JVM session, embeddable as oracle VALUES.
    */
  val trained = Memos.memo { (s, dir) =>
    train(Tables.documents(s, dir), "text")
  }

  def encodeExpr(text: Column, model: WordPieceModel): Column =
    WordPieceEncode(text, model)

  private def esc(s: String): String = s.replace("'", "''")

  /** DuckDB CTE chain ending in `wtok(doc_id, pos, token)` and
    * `wn(doc_id, n_wp)` — a step-for-step mirror of
    * [[graft.functions.WordPieceEncode]]: same single-space word split,
    * greedy longest-match-first as a recursive CTE whose step LEFT
    * JOINs the vocabulary once per candidate length (longest arm wins
    * via a length-descending CASE; the lookup key is the raw substring
    * at word start and '##' || substring after), a failed position
    * jumping to word end with the l = −1 failure marker, failed words
    * collapsing to one '[UNK]' token (the BERT whole-word-unk rule),
    * tokens re-ordered per document by (word position, span start).
    * MUST follow a `WITH RECURSIVE` header. `src` must already be
    * sanitized of '#' where oracle parity is gated.
    */
  def wordPieceCteSql(model: WordPieceModel,
      src: String = "documents"): String = {
    val k = model.maxLen
    val vals = model.pieces.map(p => s"('${esc(p)}')").mkString(",")
    // NOTE: no generated line may START with '||' — this string is
    // re-processed by the caller's outer stripMargin, which would eat
    // a leading pipe (the operator stays at end-of-line instead).
    val joins = (1 to k).map { l =>
      s"""  LEFT JOIN wpv c$l ON c$l.piece =
         |    (CASE WHEN g.i = 0 THEN '' ELSE '##' END) ||
         |    substr(g.w, CAST(g.i + 1 AS INT), $l)
         |    AND g.i + $l <= length(g.w)""".stripMargin
    }.mkString("\n")
    val pickCase = "CASE\n" + (k to 1 by -1).map { l =>
      s"      WHEN c$l.piece IS NOT NULL THEN CAST($l AS BIGINT)"
    }.mkString("\n") + "\n      ELSE CAST(0 AS BIGINT) END"
    val tokCase = "CASE\n" + (k to 1 by -1).map { l =>
      s"      WHEN c$l.piece IS NOT NULL THEN c$l.piece"
    }.mkString("\n") + "\n      ELSE CAST(NULL AS VARCHAR) END"
    s"""wpv(piece) AS (SELECT * FROM (VALUES $vals)),
       |wpw AS (SELECT doc_id, wp, w FROM (SELECT doc_id,
       |    generate_subscripts(string_split(text, ' '), 1) AS wp,
       |    unnest(string_split(text, ' ')) AS w FROM $src)
       |  WHERE w != ''),
       |wpd AS (SELECT DISTINCT w FROM wpw),
       |wpg(w, i, l, tok) AS (
       |  SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(NULL AS VARCHAR) FROM wpd
       |  UNION ALL
       |  SELECT g.w,
       |    CASE WHEN ($pickCase) = 0 THEN CAST(length(g.w) AS BIGINT)
       |         ELSE g.i + ($pickCase) END,
       |    CASE WHEN ($pickCase) = 0 THEN CAST(-1 AS BIGINT)
       |         ELSE ($pickCase) END,
       |    $tokCase
       |  FROM wpg g
       |$joins
       |  WHERE g.i < length(g.w) AND g.l >= 0),
       |wpfail AS (SELECT DISTINCT w FROM wpg WHERE l = -1),
       |wptokw AS (SELECT w, i - l AS st, tok AS token FROM wpg
       |    WHERE l > 0 AND w NOT IN (SELECT w FROM wpfail)
       |  UNION ALL
       |  SELECT w, CAST(0 AS BIGINT), '${esc(WordPieceEncode.Unk)}'
       |  FROM wpfail),
       |wtok AS (SELECT ww.doc_id,
       |    CAST(row_number() OVER (PARTITION BY ww.doc_id
       |      ORDER BY ww.wp, t.st) - 1 AS INT) AS pos,
       |    t.token
       |  FROM wpw ww JOIN wptokw t ON t.w = ww.w),
       |wn AS (SELECT d.doc_id, CAST(coalesce(c.cnt, 0) AS INT) AS n_wp
       |  FROM $src d LEFT JOIN (SELECT doc_id, count(*) AS cnt
       |    FROM wtok GROUP BY doc_id) c USING (doc_id))""".stripMargin
  }
}
