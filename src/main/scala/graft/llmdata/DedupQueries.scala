package graft.llmdata

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memos, QueryPack, Tables}

/** Deduplication gate family (SURVEY.md LLM-data additions: exact,
  * MinHash+LSH demo and production parameterizations, exact n-gram
  * Jaccard (PPJoin), containment, incremental, exact-substring, global
  * line dedup, SimHash, near-dup clusters + quality-aware
  * representatives, and the forced large-star/small-star
  * connected-components gate), split out of LlmDataQueries.scala —
  * query names and oracle SQL are byte-identical to their pre-split
  * forms. The verified pair memos and the minhash oracle CTE blocks
  * live here (package-visible: q_blocking_quality grades its blocking
  * scheme against the same minhash ground truth).
  */
object DedupQueries extends QueryPack {

  /** A pair gate's result, computed once per dir and served from the
    * collected (id_a, id_b, `third`) rows: the pair builders hand back a
    * persisted frame the CALLER owns, so the small verified pair list
    * (bounded by the near-dup count at gate SF) is collected, the frame
    * unpersisted at once, and later gates read the memo — never data
    * or a DataFrame.
    */
  private def collectedPairs[T: scala.reflect.runtime.universe.TypeTag](
      third: String, get: Row => T)(build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = {
    val memo = Memos.memo { (s, dir) =>
      val p = build(s, dir)
      val out = p.select("id_a", "id_b", third).collect()
        .map(r => (r.getLong(0), r.getLong(1), get(r)))
      p.unpersist(blocking = false)
      out
    }
    (s, dir) => {
      import s.implicits._
      memo(s, dir).toSeq.toDF("id_a", "id_b", third)
    }
  }

  /** q_dedup_minhash and q_drop_near_dups gate the SAME oracle-family
    * pipeline (k=8 / rowsPerBand=2 / 3-gram shingles, md5-per-seed):
    * run it once per data dir and gate twice — the fit-once/gate-twice
    * memo the KMeans gates use.
    */
  private[llmdata] val oracleMinhashPairs =
    collectedPairs("jaccard", _.getDouble(2)) { (s, dir) =>
      Dedup.minhashNearDupPairs(Tables.documents(s, dir), "text", "doc_id",
        threshold = 0.8, k = 8, rowsPerBand = 2, shingleN = 3,
        oracleCompatible = true)
    }

  /** q_dedup_jaccard's exact PPJoin pairs. */
  private val exactJaccardPairs =
    collectedPairs("jaccard", _.getDouble(2)) { (s, dir) =>
      Dedup.jaccardNearDupPairs(Tables.documents(s, dir), "text", "doc_id",
        threshold = 0.8, shingleN = 3)
    }

  /** q_dedup_containment's exact directed pairs. */
  private val exactContainmentPairs =
    collectedPairs("containment", _.getDouble(2)) { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "text", "doc_id",
        threshold = 0.8, shingleN = 3)
    }

  /** The PRODUCTION-family minhash pipeline (k=64/rowsPerBand=4, cheap
    * mixes); without the memo, every Verify/Bench invocation of the
    * query leaked one cached result set.
    */
  private val defaultMinhashPairs =
    collectedPairs("jaccard", _.getDouble(2)) { (s, dir) =>
      Dedup.minhashNearDupPairs(Tables.documents(s, dir), "text", "doc_id",
        threshold = 0.8)
    }

  /** And the simhash pigeonhole pipeline (hamming ≤ 3). */
  private val simhashPairs =
    collectedPairs("hamming", _.getAs[Number](2).intValue) { (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "text", "doc_id",
        maxHamming = 3)
    }

  private[llmdata] val minhashPairCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                 for i in range(1, len(t) - 1)]) AS shingle
      |       FROM toks),
      |seeds AS (SELECT unnest(range(0, 8)) AS s),
      |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || '|' || shingle)) AS m
      |       FROM sh, seeds GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |  max(CASE WHEN s=0 THEN m END) AS m0, max(CASE WHEN s=1 THEN m END) AS m1,
      |  max(CASE WHEN s=2 THEN m END) AS m2, max(CASE WHEN s=3 THEN m END) AS m3,
      |  max(CASE WHEN s=4 THEN m END) AS m4, max(CASE WHEN s=5 THEN m END) AS m5,
      |  max(CASE WHEN s=6 THEN m END) AS m6, max(CASE WHEN s=7 THEN m END) AS m7
      | FROM mh GROUP BY 1),
      |bands AS (
      | SELECT doc_id, 0 AS band, md5(m0 || m1) AS bh FROM sig
      | UNION ALL SELECT doc_id, 1, md5(m2 || m3) FROM sig
      | UNION ALL SELECT doc_id, 2, md5(m4 || m5) FROM sig
      | UNION ALL SELECT doc_id, 3, md5(m6 || m7) FROM sig),
      |bands_ok AS (SELECT band, bh FROM bands
      |             GROUP BY band, bh HAVING count(*) <= 1000),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |         JOIN bands_ok k ON k.band = a.band AND k.bh = a.bh),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (SELECT c.id_a, c.id_b, count(*) AS cnt
      |          FROM cand c JOIN sh a ON a.doc_id = c.id_a
      |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b, cnt * 1.0 / (sa.sz + sb.sz - cnt) AS jac
      |          FROM inter JOIN sizes sa ON sa.doc_id = id_a
      |          JOIN sizes sb ON sb.doc_id = id_b
      |          WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8)""".stripMargin

  /** Generated mirror of the PRODUCTION minhash family (k=64,
    * rowsPerBand=4, cheap 60-bit xor-shift mixes — Dedup.mix60): one
    * md5 per shingle → 60-bit h (first 15 hex chars, the established
    * `('0x'||substr(md5,1,15))::BIGINT` trick) → per-seed
    * `mix60(xor(h, c_s))` with the seed constants embedded as a literal
    * VALUES table → per-doc mins as 15-hex strings → 16 band md5s →
    * bucket join → exact Jaccard. Every step is the same arithmetic the
    * JVM runs (left shifts are masked before shifting on BOTH sides, so
    * signed BIGINT never overflows).
    */
  private val cheapMinhashPairCtes: String = {
    val k = 64
    val seeds = Dedup.cheapSeeds(k)
    val seedRows = seeds.zipWithIndex
      .map { case (c, s) => s"($s,${c}::BIGINT)" }.mkString(",")
    val m47 = (1L << 47) - 1
    val m43 = (1L << 43) - 1
    val sigCols = (0 until k)
      .map(s => s"max(CASE WHEN s=$s THEN m END) AS m$s")
      .mkString(",\n|  ")
    val bandRows = (0 until k / 4).map { b =>
      val concat = (0 until 4).map(r => s"m${b * 4 + r}").mkString(" || ")
      if (b == 0) s"SELECT doc_id, 0 AS band, md5($concat) AS bh FROM sig"
      else s"UNION ALL SELECT doc_id, $b, md5($concat) FROM sig"
    }.mkString("\n| ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                 for i in range(1, len(t) - 1)]) AS shingle
       |       FROM toks),
       |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
       |       FROM sh),
       |seeds(s, c) AS (SELECT * FROM (VALUES $seedRows)),
       |x1 AS (SELECT doc_id, s, xor(h, c) AS x FROM hs, seeds),
       |x2 AS (SELECT doc_id, s, xor(x, (x & $m47) << 13) AS x FROM x1),
       |x3 AS (SELECT doc_id, s, xor(x, x >> 7) AS x FROM x2),
       |x4 AS (SELECT doc_id, s, xor(x, (x & $m43) << 17) AS x FROM x3),
       |mh AS (SELECT doc_id, s, printf('%015x', min(x)) AS m
       |       FROM x4 GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |  $sigCols
       | FROM mh GROUP BY 1),
       |bands AS (
       | $bandRows),
       |bands_ok AS (SELECT band, bh FROM bands
       |             GROUP BY band, bh HAVING count(*) <= 1000),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |         JOIN bands_ok k ON k.band = a.band AND k.bh = a.bh),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS cnt
       |          FROM cand c JOIN sh a ON a.doc_id = c.id_a
       |          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |          GROUP BY 1, 2),
       |pairs AS (SELECT id_a, id_b, cnt * 1.0 / (sa.sz + sb.sz - cnt) AS jac
       |          FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |          JOIN sizes sb ON sb.doc_id = id_b
       |          WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8)""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // the full dedup pipeline END: corpus minus the higher id of every
    // verified near-dup pair (left-anti on the pair list).
    "q_drop_near_dups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropNearDuplicates(docs, oracleMinhashPairs(s, dir), "doc_id")
        .select(col("doc_id")).orderBy("doc_id")
    }),


    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_copies"))
        .orderBy("doc_id")),


    // small k + the md5-per-seed family so every minhash value is
    // bit-reproducible in the DuckDB oracle
    "q_dedup_minhash" -> ((s, dir) =>
      oracleMinhashPairs(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),


    // the PRODUCTION configuration: k=64/rowsPerBand=4 defaults with the
    // cheap hash family (ONE md5 per shingle + 64 mul-free 60-bit
    // xor-shift mixes). The mix avoids multiplication precisely so the
    // production path is EXACTLY hash-gated (DuckDB BIGINT multiply
    // raises on overflow; xor/shift/mask reproduce bit-for-bit) — this
    // is the entry BENCH is read against, now with a full oracle.
    "q_dedup_minhash_default" -> ((s, dir) =>
      defaultMinhashPairs(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),


    // Exact Jaccard similarity self-join via prefix filtering — the
    // STRONGEST dedup gate: the oracle computes ground-truth all-pairs
    // Jaccard ≥ t by brute force, so the hash must match iff the prefix
    // filter has NO false negatives (the SSJoin/All-Pairs lemma) and the
    // verification arithmetic is bit-identical.
    "q_dedup_jaccard" -> ((s, dir) =>
      exactJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),


    // Incremental-ingest dedup: the known corpus is doc_id < 250 PLUS
    // docs 300-319 (a re-ingestion overlap — every fingerprint is
    // unique in this corpus, so the overlap makes the anti-join
    // genuinely fire: 20 arrivals are already known and drop).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val known = docs
        .filter(col("doc_id") < 250 ||
          (col("doc_id") >= 300 && col("doc_id") < 320))
        .select(TextStats.fingerprint(col("text")).as("fingerprint"))
      Dedup.dropKnownFingerprints(docs.filter(col("doc_id") >= 250), "text", known)
        .select(col("doc_id"), col("fingerprint")).orderBy("doc_id")
    }),


    // Exact DIRECTED containment pairs (a's shingles ≥80% inside b) —
    // the asymmetric-overlap join symmetric Jaccard structurally
    // misses; gated against a ground-truth all-directed-pairs oracle.
    "q_dedup_containment" -> ((s, dir) =>
      exactContainmentPairs(s, dir)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")),


    // Exact-substring duplicated spans (Lee et al. ExactSubstr,
    // re-expressed as content-defined md5-anchor sampling — alignment-
    // independent, unlike a fixed stride): per-doc merged-span stats.
    "q_dedup_substr" -> ((s, dir) =>
      Dedup.exactSubstrStats(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),


    // Single-link clusters over the (memoized) oracle-family minhash
    // pairs: connectedComponents (union-find at this pair count). The
    // oracle walks the same graph with a recursive CTE, so every
    // component's full membership — not just per-pair drops — is
    // hash-gated.
    "q_dedup_clusters" -> ((s, dir) =>
      graft.graph.ConnectedComponents
        .connectedComponents(oracleMinhashPairs(s, dir))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")),


    // Leakage-safe corpus split (Dedup.leakageSafeSplit): train/val/
    // test hashed on the near-dup CLUSTER id so near-duplicates can
    // never straddle splits — the contamination guard before an eval
    // set exists. h60 + integer CASE on the recursive-CTE cluster
    // labels; exact.
    "q_cluster_split" -> ((s, dir) =>
      Dedup.leakageSafeSplit(Tables.documents(s, dir), "doc_id",
          oracleMinhashPairs(s, dir))
        .orderBy("doc_id")),

    // …and its audit: per-split doc/cluster counts plus the global
    // straddling-pair count (zero by construction — the row a pipeline
    // alerts on if anyone swaps in a doc-keyed split).
    "q_split_leakage" -> ((s, dir) => {
      val assign = Dedup.leakageSafeSplit(Tables.documents(s, dir),
        "doc_id", oracleMinhashPairs(s, dir))
      Dedup.splitLeakage(assign, oracleMinhashPairs(s, dir))
        .orderBy("split")
    }),

    // Quality-aware dedup END: one representative per near-dup cluster,
    // chosen by (max n_chars, min doc_id) rather than least-id — the
    // recursive-CTE labels + arg-max mirror gates membership AND the
    // election rule.
    "q_dedup_keep_best" -> ((s, dir) =>
      Dedup.dropNearDuplicatesKeepBest(Tables.documents(s, dir),
        oracleMinhashPairs(s, dir), "doc_id", "n_chars")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")),


    // The SAME component semantics forced through the distributed
    // O(log n)-round large-star/small-star path (Kiveris SoCC'14),
    // which connectedComponents only picks above its driver size —
    // checked against the identical recursive-CTE oracle, so
    // union-find and alternating-star must agree on every label.
    "q_cc_largestar" -> ((s, dir) =>
      graft.graph.ConnectedComponents
        .largeStar(oracleMinhashPairs(s, dir))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")),


    // SimHash hamming pairs — EXACT oracle: the hash is built from
    // `md5` string expressions, which DuckDB reproduces bit-for-bit
    // (('0x'||substr(md5,1,15))::BIGINT mirrors conv(...,16,10)), so the
    // whole vote→sign→pigeonhole pipeline is SQL-checkable.
    "q_dedup_simhash" -> ((s, dir) =>
      simhashPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")),


    // CCNet corpus-wide line dedup (Wenzek 1911.00359 §3.1): multi-line
    // docs synthesized from word slices with boilerplate lines injected
    // on doc_id-mod slices — the first doc carrying each boilerplate
    // line keeps it, every later doc loses it; content lines survive.
    // Winner election is min(struct(id,pos)) on the md5-60bit line key.
    "q_line_dedup_global" -> ((s, dir) => {
      val w = split(translate(col("text"), "\n", " "), " ")
      val did = col("doc_id")
      // short docs yield empty word slices: skip them like the oracle
      // (DuckDB array_to_string of an empty slice is NULL)
      val sl = (from: Int) => {
        val j = array_join(slice(w, from, 10), " ")
        when(length(j) > 0, j)
      }
      val multi = concat_ws("\n",
        when(did % 5 === 0, lit("click here to read more.")),
        sl(1),
        when(did % 2 === 0, lit("subscribe to our newsletter today.")),
        sl(11), sl(21),
        when(did % 3 === 0, lit("all rights reserved worldwide.")))
      Dedup.dedupLinesGlobal(
          Tables.documents(s, dir).select(did, multi.as("text")),
          "text", "doc_id")
        .orderBy("doc_id")
    })
  )

  def oracles: Map[String, String] = Map(

    "q_drop_near_dups" ->
      s"""WITH $minhashPairCtes
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b, round(jac, 6) AS jaccard
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_minhash_default" ->
      s"""WITH $cheapMinhashPairCtes
         |SELECT id_a, id_b, round(jac, 6) AS jaccard
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,

    // GROUND-TRUTH all-pairs Jaccard (no filtering): the Spark side must
    // reproduce this exactly THROUGH its prefix filter — a hash match
    // certifies the SSJoin lemma holds (no false negatives) on real data.
    "q_dedup_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                 for i in range(1, len(t) - 1)]) AS shingle
        |       FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |          FROM sh a JOIN sh b USING (shingle)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,


    // incremental-dedup mirror: same normalization, NOT IN on the
    // known half's fingerprints.
    "q_dedup_incremental" ->
      """WITH f AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')))
        |    AS fingerprint FROM documents)
        |SELECT doc_id, fingerprint FROM f
        |WHERE doc_id >= 250
        |  AND fingerprint NOT IN (SELECT fingerprint FROM f
        |       WHERE doc_id < 250 OR (doc_id >= 300 AND doc_id < 320))
        |ORDER BY doc_id""".stripMargin,


    // ground-truth containment: ALL directed shared-shingle pairs with
    // |a∩b|/|a| computed from first principles — certifies the
    // a-prefix ⋈ b-full candidate generation has no false negatives
    // on real data.
    "q_dedup_containment" ->
      """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))))
        |        AS s FROM dd),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cnt
        |          FROM g a JOIN g b ON a.s = b.s AND a.doc_id != b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | round(CAST(cnt AS DOUBLE) / CAST(sa.sz AS DOUBLE), 6) AS containment
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= CAST(0.8 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,


    // exact-substring spans: regenerate every char 25-gram, keep the
    // md5-prefix-sampled anchors, mark grams recurring corpus-wide,
    // merge each doc's spans with the same gaps-and-islands windows.
    "q_dedup_substr" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |   unnest(generate_series(0, CAST(n_chars AS INT) - 25, 1)) AS p
        |  FROM documents WHERE n_chars >= 25),
        |sg AS (
        |  SELECT doc_id, p, substring(text, p + 1, 25) AS gram FROM g
        |  WHERE substring(md5(substring(text, p + 1, 25)), 1, 1) = '0'),
        |dup AS (SELECT gram FROM sg GROUP BY gram HAVING count(*) > 1),
        |mk AS (SELECT doc_id, p FROM sg
        |       WHERE gram IN (SELECT gram FROM dup)),
        |w AS (SELECT doc_id, p,
        |        max(p + 25) OVER (PARTITION BY doc_id ORDER BY p
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        |      FROM mk),
        |isl AS (SELECT doc_id, p,
        |        sum(CASE WHEN prev_e IS NULL OR p > prev_e THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY p
        |                ROWS UNBOUNDED PRECEDING) AS island
        |        FROM w),
        |sp AS (SELECT doc_id, island, min(p) AS s0, max(p) + 25 AS e1
        |       FROM isl GROUP BY doc_id, island),
        |st AS (SELECT doc_id, count(*) AS n_spans,
        |        CAST(sum(e1 - s0) AS BIGINT) AS dup_chars
        |       FROM sp GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(st.n_spans, 0) AS n_spans,
        | coalesce(st.dup_chars, 0) AS dup_chars,
        | round(coalesce(st.dup_chars, 0) / CAST(d.n_chars AS DOUBLE), 6)
        |   AS dup_frac
        |FROM documents d LEFT JOIN st USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // single-link components of the SAME pair graph the q_dedup_minhash
    // oracle builds, walked to fixpoint with a recursive CTE: cc
    // enumerates every label reachable from each node (UNION dedup
    // terminates it), min per node = the component's least id.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, c.label FROM edges e JOIN cc c ON c.id = e.dst)
         |SELECT id AS doc_id, min(label) AS cluster
         |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_cluster_split" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, c.label FROM edges e JOIN cc c ON c.id = e.dst),
         |cl AS (SELECT id, min(label) AS cluster FROM cc GROUP BY id),
         |dc AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |sp AS (SELECT doc_id, cluster,
         |    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, cluster,
         |      ('0x' || substr(md5('clsplit' || CAST(cluster AS VARCHAR)),
         |        1, 15))::BIGINT % 10 AS b
         |    FROM dc))
         |SELECT doc_id, cluster, split FROM sp ORDER BY doc_id""".stripMargin,

    "q_split_leakage" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, c.label FROM edges e JOIN cc c ON c.id = e.dst),
         |cl AS (SELECT id, min(label) AS cluster FROM cc GROUP BY id),
         |dc AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |sp AS (SELECT doc_id, cluster,
         |    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, cluster,
         |      ('0x' || substr(md5('clsplit' || CAST(cluster AS VARCHAR)),
         |        1, 15))::BIGINT % 10 AS b
         |    FROM dc)),
         |leak AS (SELECT CAST(coalesce(sum(CASE WHEN a.split != b.split
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky_pairs
         |  FROM pairs p
         |  JOIN sp a ON a.doc_id = p.id_a
         |  JOIN sp b ON b.doc_id = p.id_b)
         |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT s.cluster) AS BIGINT) AS n_clusters,
         |  l.n_leaky_pairs
         |FROM sp s CROSS JOIN leak l
         |GROUP BY s.split, l.n_leaky_pairs
         |ORDER BY s.split""".stripMargin,

    // keep-best dedup mirror: recursive-CTE cluster labels + arg-max
    // (n_chars DESC, doc_id) winner per cluster; unclustered docs pass.
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, c.label FROM edges e JOIN cc c ON c.id = e.dst),
         |lab AS (SELECT id AS doc_id, min(label) AS cluster
         |        FROM cc GROUP BY id),
         |j AS (SELECT d.doc_id, d.n_chars, lab.cluster
         |      FROM documents d LEFT JOIN lab USING (doc_id)),
         |win AS (SELECT doc_id, n_chars FROM (
         |    SELECT doc_id, n_chars, row_number() OVER
         |      (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM j WHERE cluster IS NOT NULL) WHERE rn = 1)
         |SELECT doc_id, n_chars FROM j WHERE cluster IS NULL
         |UNION ALL SELECT doc_id, n_chars FROM win
         |ORDER BY doc_id""".stripMargin,

    // identical oracle, independent Spark algorithm (large-star/
    // small-star) — the two cluster gates cross-validate each other
    "q_cc_largestar" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |cc(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, c.label FROM edges e JOIN cc c ON c.id = e.dst)
         |SELECT id AS doc_id, min(label) AS cluster
         |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin,

    // generated mirror of Dedup.simhash + the 4-chunk pigeonhole join:
    // per token a 60-bit md5-derived hash, per bit a ±tf-weighted vote,
    // sign → bit, chunks of 15 bits, hamming via bit_count(xor(...)).
    "q_dedup_simhash" -> {
      val votes = (0 until 60).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v_$j")
        .mkString(",\n|        ")
      val hash = (0 until 60).map(j =>
        s"(CASE WHEN v_$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)")
        .mkString(" +\n|        ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |            FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
         |      FROM tok),
         |v AS (SELECT doc_id,
         |        $votes
         |      FROM h GROUP BY doc_id),
         |s AS (SELECT doc_id,
         |        $hash AS simhash
         |      FROM v),
         |b AS (SELECT doc_id, simhash, c,
         |        (simhash >> (c * 15)::INT) & 32767 AS cv
         |      FROM s, (SELECT unnest(range(0, 4)) AS c) cc),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
         |        CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
         |      FROM b a JOIN b b2
         |        ON a.c = b2.c AND a.cv = b2.cv AND a.doc_id < b2.doc_id)
         |SELECT id_a, id_b, hamming FROM p
         |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
    },


    "q_line_dedup_global" ->
      """WITH m AS (SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 5 = 0 THEN 'click here to read more.' END,
        |    array_to_string(w[1:10], ' '),
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'subscribe to our newsletter today.' END,
        |    array_to_string(w[11:20], ' '),
        |    array_to_string(w[21:30], ' '),
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'all rights reserved worldwide.' END) AS text
        |  FROM (SELECT doc_id,
        |          string_split(replace(text, chr(10), ' '), ' ') AS w
        |        FROM documents)),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM m),
        |posi AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS i, ls
        |         FROM l),
        |lines AS (SELECT doc_id, i - 1 AS pos, ls[i] AS line FROM posi),
        |k AS (SELECT doc_id, pos, line,
        |        row_number() OVER (
        |          PARTITION BY ('0x' || substr(md5(line), 1, 15))::BIGINT
        |          ORDER BY doc_id, pos) AS rn
        |      FROM lines),
        |agg AS (SELECT doc_id,
        |          string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
        |          count(*) AS n_kept
        |        FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT l.doc_id, CAST(len(ls) AS INT) AS n_lines,
        |  CAST(coalesce(n_kept, 0) AS INT) AS n_kept,
        |  coalesce(text_dedup, '') AS text_dedup
        |FROM l LEFT JOIN agg ON agg.doc_id = l.doc_id
        |ORDER BY l.doc_id""".stripMargin
  )
}
