package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Memos, Tables}
import graft.functions.ByteBpeEncode

/** Byte-level BPE learner — the fourth production tokenizer family
  * (GPT-2 byte encoder, Radford et al. 2019 §2.2; merge recipe
  * Sennrich arXiv:1508.07909). Words decompose to UTF-8 byte
  * surrogates ([[ByteBpeEncode.alphabet]]) before the SAME greedy
  * merge loop the code-point learner uses ([[Bpe.mergeLoop]]) — one
  * merge semantics across all four families. Unlike the word-table
  * families, coverage is total BY CONSTRUCTION: no word filter is
  * needed or applied ('|'-containing and newline-containing words
  * byte-encode like any other), and an unseen script degrades to
  * unmerged byte symbols, never OOV.
  *
  * Scale posture: identical to [[Bpe.train]] — ONE (word, count)
  * aggregation bounded to the top `maxWords`, driver-side merge loop
  * over that table, scoring/encoding scan-fused per row via the
  * [[ByteBpeEncode]] codegen expression.
  */
object ByteBpe {

  /** Learn `numMerges` merges over byte-surrogate states of the
    * frequency-weighted top-`maxWords` word table. No content filter:
    * every word byte-encodes.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 4096): Seq[(String, String)] = {
    val words = Bpe.topWords(docs, textCol, maxWords)
    Bpe.mergeLoop(
      words.map { case (w, c) => (ByteBpeEncode.byteState(w), c) },
      numMerges)
  }

  /** Trained-table memo per data dir (the [[Bpe.trained]] pattern:
    * deterministic function of the dir, embeddable as oracle VALUES).
    */
  val NumMerges = 48
  val trained = Memos.memo { (s, dir) =>
    train(Tables.documents(s, dir), "text", numMerges = NumMerges)
  }

  def encodeExpr(text: Column, merges: Seq[(String, String)]): Column =
    ByteBpeEncode(text, merges)

  private def esc(s: String): String = s.replace("'", "''")

  /** The 256-char surrogate map as a SQL string literal: position
    * b+1 (1-based substr) holds byte b's surrogate. */
  private def mapLiteral: String =
    "'" + esc(new String(ByteBpeEncode.alphabet)) + "'"

  /** DuckDB CTE chain computing `ytok(doc_id, pos, token)` and
    * `yn(doc_id, n_byte)` — a term-for-term mirror of
    * [[ByteBpeEncode]]: same single-space word split, per-char UTF-8
    * byte expansion done in PURE code-point arithmetic (`unicode(ch)`
    * + the RFC 3629 range cases) against the embedded 256-char
    * surrogate map, same `|s1|s2|…|` state, same per-rank bounded
    * replace passes, tokens in (word, within-word) order. No fallback
    * branch exists in either engine — the char regexp is dotall so
    * newlines split like any char, and '|' bytes map to a surrogate
    * before the state is built. MUST follow a `WITH RECURSIVE` header.
    */
  def byteBpeCteSql(merges: Seq[(String, String)],
      srcExpr: String = "documents"): String = {
    // a zero-merge table (corpus with no repeated adjacent byte pair)
    // must still parse: an empty VALUES list is a syntax error, so emit
    // an empty ym via WHERE FALSE — the recursion joins nothing, rk
    // stays 0, exactly the engine's empty-patReps behavior
    val ymCte =
      if (merges.isEmpty)
        "ym(rk, pat, rep) AS (SELECT 0, '', '' WHERE FALSE)"
      else {
        val vals = merges.zipWithIndex.map { case ((l, r), i) =>
          s"($i,'${esc(s"|$l|$r|")}','${esc(s"|$l$r|")}')"
        }.mkString(",")
        s"ym(rk, pat, rep) AS (SELECT * FROM (VALUES $vals))"
      }
    val m = merges.length
    val nested = (1 to graft.functions.BpeTokenCount.MaxPasses)
      .foldLeft("st")((e, _) => s"replace($e, ym.pat, ym.rep)")
    // surrogate lookup: substr(map, byte+1, 1); each branch emits the
    // byte surrogates each followed by '|', so '|' || string_agg(...)
    // is exactly the |s1|s2|…| state
    val ms = mapLiteral
    def sl(b: String) = s"substr($ms, ($b) + 1, 1)"
    val exp1 = s"${sl("u")} || '|'"
    val exp2 = s"${sl("192 + u // 64")} || '|' || ${sl("128 + u % 64")} || '|'"
    val exp3 = s"${sl("224 + u // 4096")} || '|' || " +
      s"${sl("128 + (u // 64) % 64")} || '|' || ${sl("128 + u % 64")} || '|'"
    val exp4 = s"${sl("240 + u // 262144")} || '|' || " +
      s"${sl("128 + (u // 4096) % 64")} || '|' || " +
      s"${sl("128 + (u // 64) % 64")} || '|' || ${sl("128 + u % 64")} || '|'"
    // NOTE stripMargin trap: no generated line may start with '|' —
    // the '||' concatenations above stay at end-of-line positions.
    s"""$ymCte,
       |yw AS (SELECT doc_id,
       |         generate_subscripts(string_split(text, ' '), 1) AS wp,
       |         unnest(string_split(text, ' ')) AS w FROM $srcExpr),
       |ych AS (SELECT doc_id, wp, generate_subscripts(cs, 1) AS cp,
       |          unnest(cs) AS ch
       |        FROM (SELECT doc_id, wp,
       |                regexp_extract_all(w, '(?s).') AS cs FROM yw)),
       |yexp AS (SELECT doc_id, wp, cp,
       |    CASE WHEN u < 128 THEN $exp1
       |         WHEN u < 2048 THEN $exp2
       |         WHEN u < 65536 THEN $exp3
       |         ELSE $exp4 END AS e
       |  FROM (SELECT doc_id, wp, cp, unicode(ch) AS u FROM ych)),
       |yag AS (SELECT doc_id, wp, string_agg(e, '' ORDER BY cp) AS body
       |        FROM yexp GROUP BY doc_id, wp),
       |ys(doc_id, wp, st, rk) AS (
       |  SELECT w.doc_id, w.wp, '|' || coalesce(a.body, ''), 0
       |  FROM yw w LEFT JOIN yag a ON a.doc_id = w.doc_id AND a.wp = w.wp
       |  UNION ALL
       |  SELECT doc_id, wp, $nested, ys.rk + 1
       |  FROM ys JOIN ym ON ym.rk = ys.rk WHERE ys.rk < $m),
       |yfin AS (SELECT doc_id, wp,
       |           list_filter(string_split(st, '|'), x -> x != '') AS toks
       |         FROM ys WHERE rk = $m),
       |yflat AS (SELECT doc_id, wp, generate_subscripts(toks, 1) AS tp,
       |            unnest(toks) AS token FROM yfin),
       |ytok AS (SELECT doc_id, CAST(row_number() OVER
       |           (PARTITION BY doc_id ORDER BY wp, tp) - 1 AS INT) AS pos,
       |           token
       |         FROM yflat),
       |yn AS (SELECT doc_id,
       |         CAST(sum(length(st) - length(replace(st, '|', '')) - 1)
       |           AS BIGINT) AS n_byte
       |       FROM ys WHERE rk = $m GROUP BY doc_id)""".stripMargin
  }
}
