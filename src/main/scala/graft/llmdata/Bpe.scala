package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Memos, Tables}
import graft.functions.BpeTokenCount

/** In-repo byte-pair-encoding learner (Sennrich et al.,
  * arXiv:1508.07909 §3.2 — the public subword recipe): start from code
  * points, repeatedly merge the most frequent adjacent symbol pair of a
  * frequency-weighted word table, emit the ordered merge list. The
  * learned table rides [[graft.functions.BpeTokenCount]] (scoring) as a
  * codegen reference object and the generated DuckDB oracles as literal
  * VALUES.
  *
  * Scale posture: the word table is ONE aggregation on whitespace
  * tokens bounded to the top `maxWords` by (count desc, word asc) — at
  * 100 TB the shuffle carries (word, count) pairs and the driver holds
  * `maxWords` strings, never documents. The merge loop itself touches
  * only that driver-side table (state strings, microseconds). Both the
  * cut and the tie-breaks are deterministic, so the table is a pure
  * function of the corpus — which is what lets the oracle embed it.
  *
  * Training applies each chosen merge with the SAME bounded-pass
  * string-replace semantics scoring uses ([[BpeTokenCount.applyRank]]),
  * so the whole system has one merge semantics.
  */
object Bpe {

  /** Learn `numMerges` merges from `textCol`'s whitespace tokens.
    * Stops early when no adjacent pair occurs at least twice (merging
    * singletons would just memorize tail words).
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 4096): Seq[(String, String)] = {
    val words = topWords(docs, textCol, maxWords,
      extraFilter = !col("w").contains("|"))
    mergeLoop(words.map { case (w, c) => (BpeTokenCount.initState(w), c) },
      numMerges)
  }

  /** The frequency-weighted top-`maxWords` word table — ONE bounded
    * aggregation on whitespace tokens with deterministic
    * (count desc, word asc) tie-breaks, shared by all trainer families
    * so they learn from the identical table (modulo each family's
    * content filter).
    */
  private[llmdata] def topWords(docs: DataFrame, textCol: String,
      maxWords: Int,
      extraFilter: Column = lit(true)): Array[(String, Long)] =
    graft.core.FanOut.byKey(docs, textCol)
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0 && extraFilter)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** The greedy merge loop over pre-initialized `|`-delimited symbol
    * states — shared by the code-point ([[train]]) and byte-level
    * ([[ByteBpe.train]]) learners so both families have ONE merge
    * semantics (same tie-breaks, same bounded-pass replace).
    */
  def mergeLoop(states0: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    var states = states0
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var go = true
    while (merges.length < numMerges && go) {
      val freq = scala.collection.mutable.HashMap[(String, String), Long]()
      states.foreach { case (st, c) =>
        val syms = st.split('|').filter(_.nonEmpty)
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          freq.update(p, freq.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (freq.isEmpty) go = false
      else {
        val ((l, r), c) = freq.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        if (c < 2) go = false
        else {
          merges += ((l, r))
          val pat = s"|$l|$r|"
          val rep = s"|$l$r|"
          states = states.map { case (st, cc) =>
            (BpeTokenCount.applyRank(st, pat, rep), cc)
          }
        }
      }
    }
    merges.toSeq
  }

  /** Merge table trained once per data dir on the documents table —
    * the trainedPqCodebooks pattern: deterministic function of the dir,
    * memoized for the JVM session, and embeddable as oracle VALUES at
    * SQL-generation time.
    */
  val NumMerges = 48
  val trained = Memos.memo { (s, dir) =>
    train(Tables.documents(s, dir), "text", numMerges = NumMerges)
  }

  def countExpr(text: Column, merges: Seq[(String, String)]): Column =
    BpeTokenCount(text, merges)

  /** Full subword tokenization: the document's token array in order
    * (size always equals [[countExpr]]; per-word tokens concatenate
    * back to the word).
    */
  def encodeExpr(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncode(text, merges)

  private def esc(s: String): String = s.replace("'", "''")

  /** DuckDB CTE chain computing `nb(doc_id, n_bpe)` — a term-for-term
    * mirror of [[BpeTokenCount]]: same single-space word split, same
    * `|c1|c2|…|` state, same per-rank bounded replace passes (a rank
    * step joins `bm` on rk so the recursion walks the merge list in
    * learned order), same fallback for delimiter/newline words, same
    * `separators − 1` count. MUST follow a `WITH RECURSIVE` header.
    */
  def bpeCteSql(merges: Seq[(String, String)],
      srcTable: String = "documents"): String = {
    val vals = merges.zipWithIndex.map { case ((l, r), i) =>
      s"($i,'${esc(s"|$l|$r|")}','${esc(s"|$l$r|")}')"
    }.mkString(",")
    val m = merges.length
    val nested = (1 to BpeTokenCount.MaxPasses)
      .foldLeft("st")((e, _) => s"replace($e, bm.pat, bm.rep)")
    s"""bm(rk, pat, rep) AS (SELECT * FROM (VALUES $vals)),
       |bw AS (SELECT doc_id, w FROM (SELECT doc_id,
       |        unnest(string_split(text, ' ')) AS w FROM $srcTable)),
       |bs(doc_id, st, rk) AS (
       |  SELECT doc_id,
       |    CASE WHEN w = '' THEN '|'
       |         WHEN contains(w, '|') OR contains(w, chr(10))
       |           OR contains(w, chr(13)) THEN repeat('|', length(w) + 1)
       |         ELSE '|' || regexp_replace(w, '(.)', '\\1|', 'g') END, 0
       |  FROM bw
       |  UNION ALL
       |  SELECT doc_id, $nested, bs.rk + 1
       |  FROM bs JOIN bm ON bm.rk = bs.rk WHERE bs.rk < $m),
       |nb AS (SELECT doc_id,
       |         CAST(sum(length(st) - length(replace(st, '|', '')) - 1) AS INT)
       |           AS n_bpe
       |       FROM bs WHERE rk = $m GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB CTE chain computing `btok(doc_id, pos, token)` — the
    * ENCODE mirror of [[graft.functions.BpeEncode]]: word position
    * rides the recursion, the final state splits on '|' (empties
    * dropped), and pos numbers the doc's tokens in (word, within-word)
    * order, 0-based. No fallback CASE: the encode gate feeds text
    * sanitized of delimiter/newline chars (fallback parity is covered
    * by the count gate + Scala spec). MUST follow a `WITH RECURSIVE`
    * header.
    */
  def bpeEncodeCteSql(merges: Seq[(String, String)],
      srcExpr: String = "documents"): String = {
    val vals = merges.zipWithIndex.map { case ((l, r), i) =>
      s"($i,'${esc(s"|$l|$r|")}','${esc(s"|$l$r|")}')"
    }.mkString(",")
    val m = merges.length
    val nested = (1 to graft.functions.BpeTokenCount.MaxPasses)
      .foldLeft("st")((e, _) => s"replace($e, bm.pat, bm.rep)")
    s"""bm(rk, pat, rep) AS (SELECT * FROM (VALUES $vals)),
       |bw AS (SELECT doc_id,
       |         generate_subscripts(string_split(text, ' '), 1) AS wp,
       |         unnest(string_split(text, ' ')) AS w FROM $srcExpr),
       |bs(doc_id, wp, st, rk) AS (
       |  SELECT doc_id, wp,
       |    CASE WHEN w = '' THEN '|'
       |         ELSE '|' || regexp_replace(w, '(.)', '\\1|', 'g') END, 0
       |  FROM bw
       |  UNION ALL
       |  SELECT doc_id, wp, $nested, bs.rk + 1
       |  FROM bs JOIN bm ON bm.rk = bs.rk WHERE bs.rk < $m),
       |bfin AS (SELECT doc_id, wp,
       |           list_filter(string_split(st, '|'), x -> x != '') AS toks
       |         FROM bs WHERE rk = $m),
       |bflat AS (SELECT doc_id, wp, generate_subscripts(toks, 1) AS tp,
       |            unnest(toks) AS token FROM bfin),
       |btok AS (SELECT doc_id, CAST(row_number() OVER
       |           (PARTITION BY doc_id ORDER BY wp, tp) - 1 AS INT) AS pos,
       |           token
       |         FROM bflat)""".stripMargin
  }
}
