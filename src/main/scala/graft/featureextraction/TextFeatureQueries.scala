package graft.featureextraction

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memos, QueryPack, Tables}
import graft.datasets.Datasets
import graft.llmdata.Multimodal
import graft.streaming.StreamingAdapter

/** Oracle-verified queries for text feature extraction, multimodal
  * plumbing, synthetic generators, and the streaming window (batch
  * form).
  */
object TextFeatureQueries extends QueryPack {

  /** Pinned probe vocabulary for the EXACT hashing-vectorizer gates.
    * The gate text is synthesized from doc_id over this vocabulary with
    * pure integer arithmetic (identical in Spark and DuckDB); the REAL
    * murmur3 path (MLlib HashingTF / FeatureHasher) then runs on the
    * Spark side, and the oracle maps each vocabulary slot to its
    * JVM-precomputed murmur3 bucket via a literal VALUES table — the
    * same trick as the LSH literal hyperplanes.
    */
  private[featureextraction] val hashVocab: Vector[String] = Vector(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliett", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "zero", "one",
    "two", "three")

  private[featureextraction] val catVocab: Vector[String] = Vector(
    "en", "de", "fr", "es", "it", "pt", "nl", "sv")

  private val nHashFeatures = 1 << 12

  /** Fit-once persisted phash pair graph (VERDICT r10 nit #3): the
    * q_image_phash_neardups and q_image_dedup_clusters gates share the
    * SAME synthesized clone corpus and the same dHash + Hamming band
    * join — before round 11 whichever gate ran first paid the pair
    * construction, swinging per-query bench numbers ~3× with gate
    * order. Built once per dir, persisted and materialized.
    */
  private val phashPairs = Memos.memo { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .filter(octet_length(col("text")) === length(col("text")))
    val base = docs.select(col("doc_id"), col("text"))
    val clones = base.filter(col("doc_id") < 10 && length(col("text")) >= 5)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("xxxxx"), substring(col("text"), 6, Int.MaxValue))
          .as("text"))
    val media = Multimodal.binarize(base.union(clones), "text", "image")
    graft.core.FanOut.shared(Multimodal.nearDuplicateMedia(media, "doc_id"))
  }

  /** murmur3 bucket of each probe word under MLlib HashingTF. */
  private[featureextraction] lazy val hashingTfBuckets: Map[String, Int] = {
    val htf = new org.apache.spark.ml.feature.HashingTF()
      .setNumFeatures(nHashFeatures)
    hashVocab.map(w => w -> htf.indexOf(w)).toMap
  }

  /** MLlib FeatureHasher's bucket for a feature name: murmur3 (seed 42,
    * hashUnsafeBytes2 — the corrected implementation both HashingTF and
    * FeatureHasher use since Spark 3.0) of the UTF-8 bytes, mod n.
    * String columns hash "col=value"; numeric columns hash "col".
    * Replication is pinned against the real transform in M5Spec.
    */
  private[featureextraction] def fhBucket(feature: String, n: Int = nHashFeatures): Int = {
    val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString(feature)
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes2(
      utf8.getBaseObject, utf8.getBaseOffset, utf8.numBytes, 42)
    ((h % n) + n) % n
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CountVectorizer: vocabulary pass + long-format transform, fully
    // SQL-reproducible (top-20 vocab by tf desc/term asc, then sorted).
    "q_count_vectorizer" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = new CountVectorizer("text", vocabSize = 20).fit(docs)
      m.transformLong(docs, "doc_id")
        .select(col("doc_id"), col("term"),
          col("term_index").cast("long").as("term_index"),
          col("tf"))
        .orderBy("doc_id", "term")
    }),

    // BlockTransformer: arbitrary stateless fn as a transformer — here a
    // column-expression log1p, which stays codegen'd and SQL-exact.
    "q_block_transformer" -> ((s, dir) => {
      val bt = new graft.preprocessing.BlockTransformer(df =>
        df.withColumn("log_price", log1p(col("l_extendedprice"))))
      bt.transform(Tables.lineitem(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("log_price"), 6).as("log_price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // HashingTF, EXACT: synthesized probe text (doc_id-derived slots of
    // hashVocab) through the real murmur3 HashingTF; the oracle joins a
    // literal slot→bucket table. Collisions merge identically on both
    // sides (group-by bucket).
    "q_hashing_tf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocabArr = array(hashVocab.map(lit): _*)
      val nTok = (col("doc_id") % 5 + 3).cast("int")
      val synth = docs.select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), nTok - 1), j =>
          element_at(vocabArr,
            ((col("doc_id") * 7 + j.cast("long") * 3) % 30).cast("int") + 1)))
          .as("synth_text"))
      val out = new HashingVectorizer("synth_text", nFeatures = nHashFeatures)
        .transform(synth)
      val entries = udf { v: org.apache.spark.ml.linalg.Vector =>
        val sp = v.toSparse
        sp.indices.zip(sp.values).toSeq
      }
      out.select(col("doc_id"), explode(entries(col("features"))).as("e"))
        .select(col("doc_id"), col("e._1").as("bucket"),
          col("e._2").cast("long").as("tf"))
        .orderBy("doc_id", "bucket")
    }),

    "q_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.binarize(Tables.documents(s, dir), "text", "image")
      Multimodal.withByteStats(media)
        .select(col("doc_id"), col("byte_len"), col("content_md5"))
        .orderBy("doc_id")
    }),

    "q_frame_sample" -> ((s, dir) => {
      val media = Multimodal.binarize(Tables.documents(s, dir), "text", "video")
      Multimodal.frameSample(media, n = 3)
        .select(col("doc_id"), col("frame_no"), md5(col("frame_bytes")).as("frame_md5"))
        .orderBy("doc_id", "frame_no")
    }),

    // 64-bit dHash perceptual fingerprint per image (DHash64 codegen
    // expression over the binary content). EXACT oracle: the ASCII
    // guard pins UTF-8 bytes == code points, so the oracle replays the
    // byte grid from the text column with integer-only arithmetic; the
    // hash emits as two unsigned 32-bit halves to stay in signed SQL
    // BIGINT range.
    "q_image_phash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(octet_length(col("text")) === length(col("text")))
      Multimodal.perceptualHash(Multimodal.binarize(docs, "text", "image"))
        .select(col("doc_id"),
          shiftrightunsigned(col("phash"), 32).as("phash_hi"),
          col("phash").bitwiseAND(lit(0xffffffffL)).as("phash_lo"))
        .orderBy("doc_id")
    }),

    // Perceptual near-dup image pairs: dHash + the generic Hamming
    // pigeonhole band join (the SimHash machinery reused). The natural
    // corpus has no perceptually-close pair, so the gate synthesizes
    // them IN-PLAN with the same construction in the oracle (the
    // PII-gate pattern): the first 10 docs are cloned with a
    // same-length 5-byte patch — a local edit perturbs only the cells
    // covering those bytes, landing each clone within the Hamming band
    // of its source. EXACT vs a brute-force all-pairs oracle — sound
    // because the gate corpus fits under the skew cap, so banding
    // loses nothing. Pair construction lives in the fit-once
    // phashPairs memo shared with q_image_dedup_clusters.
    "q_image_phash_neardups" -> ((s, dir) =>
      phashPairs(s, dir).orderBy("id_a", "id_b")),

    // Composition: the phash near-dup pair graph fed into single-link
    // clustering — "group all variants of an image" (each clone joins
    // its source's cluster). Rides the SAME memoized pair graph as the
    // pairs gate (no per-gate rebuild); the oracle walks the same
    // graph with a recursive CTE, so full component membership is
    // hash-gated.
    "q_image_dedup_clusters" -> ((s, dir) =>
      graft.graph.ConnectedComponents.connectedComponents(
          phashPairs(s, dir).select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")),

    // Multimodal sequence packing: image slots cost a fixed 64-token
    // budget each on top of the text tokens; greedy first-fit per
    // source shard on the combined cost (the VLM training-sequence
    // assembly step). n_images = doc_id % 4 is the deterministic
    // stand-in for a media-manifest count (testdata ships no real
    // manifests) — pure integer arithmetic both engines replay.
    "q_multimodal_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("n_images", pmod(col("doc_id"), lit(4)).cast("int"))
      Multimodal.packMultimodal(docs, "text", "doc_id", "source",
        "n_images", budget = 512, imageTokens = 64)
        .select(col("doc_id"), col("source"), col("n_images"),
          col("n_text_tokens"), col("n_mm_tokens"), col("pack_id"))
        .orderBy("doc_id")
    }),

    // Decode-stub feature extraction: JVM-side fake decoder → rows-only;
    // schema/shape are the point.
    "q_multimodal_features" -> ((s, dir) => {
      val media = Multimodal.binarize(Tables.documents(s, dir), "text", "image")
      Multimodal.extractFeatures(media)
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          size(col("features")).as("n_features"))
        .orderBy("doc_id")
    }),

    // make_regression invariant oracle: with noise=0 the target is an
    // EXACT linear function of the informative features, so a full OLS
    // refit must recover r2 = 1 and exactly-zero coefficients on the
    // uninformative features — deterministic regardless of the RNG.
    "q_make_regression" -> ((s, dir) => {
      val df = Datasets.makeRegression(s, nSamples = 6000, nFeatures = 5,
        nInformative = 3, noise = 0.0, bias = 1.5, seed = 11, nPartitions = 8)
      val m = new graft.linear.LinearRegression(
        (0 until 5).map(i => s"x$i"), "y").fit(df)
      import s.implicits._
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      Seq((df.count(), 5, r6(m.score(df)), r6(m.coef(3)), r6(m.coef(4))))
        .toDF("n_rows", "n_features", "r2", "c3", "c4")
    }),

    // make_classification invariant oracle: with flipY=0 every label is
    // exactly 1[x·w > 0] for the seed-derived weight vector (the
    // documented generator contract) — recomputing the margin from the
    // stored features finds zero inconsistent rows, and both classes
    // occur.
    "q_make_classification" -> ((s, dir) => {
      val seed = 17L
      val df = Datasets.makeClassification(s, nSamples = 6000, nFeatures = 5,
        flipY = 0.0, seed = seed, nPartitions = 8)
      val wRnd = new scala.util.Random(seed)
      val w = Array.fill(5)(wRnd.nextGaussian())
      val margin = (0 until 5).map(i => col(s"x$i") * lit(w(i))).reduce(_ + _)
      val expected = when(margin > 0, 1.0).otherwise(0.0)
      df.agg(count(lit(1)).as("n_rows"),
        sum(when(col("label") =!= expected, 1L).otherwise(0L)).as("n_inconsistent"),
        (max(when(col("label") === 1.0, 1).otherwise(0)) +
          max(when(col("label") === 0.0, 1).otherwise(0))).as("n_classes"))
    }),

    // FeatureHasher, EXACT: a pinned categorical ("cat=<v>" hashed, 1.0)
    // + a nonzero numeric ("num" hashed, value) through the real MLlib
    // FeatureHasher; oracle = literal value→bucket table + the numeric
    // bucket constant, summed per (doc, bucket) on both sides.
    "q_feature_hasher" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val catArr = array(catVocab.map(lit): _*)
      val in = docs.select(col("doc_id"),
        element_at(catArr, (col("doc_id") % 8).cast("int") + 1).as("cat"),
        ((col("doc_id") % 100 + 1) / lit(10.0)).as("num"))
      val out = new FeatureHasher(Seq("cat", "num"), nFeatures = nHashFeatures)
        .transform(in)
      val entries = udf { v: org.apache.spark.ml.linalg.Vector =>
        val sp = v.toSparse
        sp.indices.zip(sp.values).toSeq
      }
      out.select(col("doc_id"), explode(entries(col("features"))).as("e"))
        .select(col("doc_id"), col("e._1").as("bucket"),
          round(col("e._2"), 6).as("value"))
        .orderBy("doc_id", "bucket")
    }),

    // Synthetic generators: JVM RNG → rows-only (shape + label balance).
    "q_make_blobs" -> ((s, dir) => {
      Datasets.makeBlobs(s, nSamples = 6000, nFeatures = 3, centers = 4,
        seed = 42, nPartitions = 8)
        .groupBy("label").agg(count(lit(1)).as("n")).orderBy("label")
    }),

    // Custom streaming state (flatMapGroupsWithState) in its BATCH
    // execution: per-user running stats. The gate pins the
    // order-independent outputs (count + integer scaled sum); the
    // float Welford mean/variance are spec-checked on a live stream.
    "q_events_user_stats" -> ((s, dir) => {
      StreamingAdapter.runningStats(Tables.events(s, dir), "user_id", "value")
        .toDF()
        .select(col("key").as("user_id"), col("n"), col("sum_scaled"))
        .orderBy("user_id")
    }),

    // Sliding 1h/30min windows: every event in exactly two windows.
    "q_events_sliding_window" -> ((s, dir) => {
      StreamingAdapter.slidingWindowAggregate(Tables.events(s, dir), "ts",
        "value", "1 hour", "30 minutes")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("window_start")
    }),

    // Session windows per user (gap-based merge; batch path of the
    // streaming plan) — oracle = lag/cumsum islands.
    "q_events_session" -> ((s, dir) => {
      StreamingAdapter.sessionAggregate(Tables.events(s, dir), "ts", "value",
        "user_id", "5 minutes")
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // Tumbling event-time window (the streaming aggregation shape, batch
    // execution path of the same plan).
    "q_events_tumbling_window" -> ((s, dir) => {
      StreamingAdapter.windowedAggregate(Tables.events(s, dir), "ts", "value",
        "1 hour", "10 minutes")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"),
          round(col("avg_value"), 6).as("avg_value"))
        .orderBy("window_start")
    })
  )

  def oracles: Map[String, String] = Map(
    // slot→murmur3-bucket literal table; the synthetic token stream is
    // re-derived from doc_id with the same integer arithmetic.
    "q_hashing_tf" -> {
      val slotRows = hashVocab.zipWithIndex
        .map { case (w, i) => s"($i,${hashingTfBuckets(w)})" }.mkString(",")
      s"""WITH m(vi, b) AS (SELECT * FROM (VALUES $slotRows)),
         |d AS (SELECT doc_id, unnest(range(0, doc_id % 5 + 3)) AS j
         |      FROM documents),
         |t AS (SELECT doc_id, (doc_id*7 + j*3) % 30 AS vi FROM d)
         |SELECT t.doc_id, m.b AS bucket, count(*) AS tf
         |FROM t JOIN m ON m.vi = t.vi
         |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin
    },
    "q_feature_hasher" -> {
      val catRows = catVocab.zipWithIndex
        .map { case (v, i) => s"($i,${fhBucket(s"cat=$v")})" }.mkString(",")
      val numB = fhBucket("num")
      s"""WITH cm(i, b) AS (SELECT * FROM (VALUES $catRows)),
         |f AS (SELECT doc_id, cm.b AS bucket, CAST(1.0 AS DOUBLE) AS v
         |        FROM documents JOIN cm ON cm.i = doc_id % 8
         |      UNION ALL
         |      SELECT doc_id, $numB AS bucket,
         |        (doc_id % 100 + 1) / 10.0 AS v FROM documents)
         |SELECT doc_id, bucket, round(sum(v), 6) AS value
         |FROM f GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin
    },
    "q_events_sliding_window" ->
      """WITH w AS (SELECT value, unnest([
        |    to_timestamp(floor(epoch(ts) / 1800) * 1800),
        |    to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800)]) AS ws
        |  FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM w GROUP BY ws ORDER BY window_start""".stripMargin,
    "q_events_session" ->
      """WITH l AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            >= INTERVAL 5 MINUTE
        |       THEN 1 ELSE 0 END AS brk
        | FROM events),
        |s AS (SELECT user_id, ts, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM l)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_block_transformer" ->
      """SELECT l_orderkey, l_linenumber,
        | round(ln(1 + l_extendedprice), 6) AS log_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_make_blobs" ->
      """SELECT CAST(i % 4 AS INT) AS label, count(*) AS n
        |FROM range(0, 6000) t(i) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_make_regression" ->
      """SELECT CAST(6000 AS BIGINT) AS n_rows, CAST(5 AS INT) AS n_features,
        | CAST(1.0 AS DOUBLE) AS r2, CAST(0.0 AS DOUBLE) AS c3,
        | CAST(0.0 AS DOUBLE) AS c4""".stripMargin,
    "q_make_classification" ->
      """SELECT CAST(6000 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_inconsistent, CAST(2 AS INT) AS n_classes""".stripMargin,
    "q_multimodal_features" ->
      """SELECT doc_id,
        | CAST(1 + (ord(text[1:1]) % 64) AS INT) AS width,
        | CAST(1 + (ord(text[(octet_length(encode(text))//2)+1
        |   : (octet_length(encode(text))//2)+1]) % 64) AS INT) AS height,
        | 3 AS channels, 16 AS n_features
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_count_vectorizer" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |             FROM documents),
        |vocab AS (SELECT term, count(*) AS total FROM tok GROUP BY term
        |          ORDER BY total DESC, term ASC LIMIT 20),
        |vi AS (SELECT term, row_number() OVER (ORDER BY term) - 1 AS term_index
        |       FROM vocab)
        |SELECT t.doc_id, t.term AS term, vi.term_index, count(*) AS tf
        |FROM tok t JOIN vi ON t.term = vi.term
        |GROUP BY 1, 2, 3 ORDER BY doc_id, t.term""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        | md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      """SELECT doc_id, frame_no,
        | md5(substring(text, frame_no * 16 + 1, 16)) AS frame_md5
        |FROM documents, (SELECT unnest(range(0, 3)) AS frame_no)
        |ORDER BY doc_id, frame_no""".stripMargin,
    "q_events_user_stats" ->
      """SELECT user_id, count(*) AS n,
        | CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS sum_scaled
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_events_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value,
        | round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin,
    "q_image_phash" ->
      s"""WITH ${phashCteSql("documents")}
         |SELECT doc_id, phash_hi, phash_lo FROM ph ORDER BY doc_id""".stripMargin,
    // multimodal packing mirror: same combined cost (text tokens +
    // 64/image) and the same per-shard cumulative first-fit arithmetic
    // as the q_sequence_packing oracle.
    "q_multimodal_pack" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INT) AS nt,
        |    CAST(doc_id % 4 AS INT) AS ni
        |  FROM documents),
        |c AS (SELECT doc_id, source, nt, ni, nt + ni * 64 AS cost,
        |    sum(nt + ni * 64) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, source, ni AS n_images, nt AS n_text_tokens,
        |  CAST(cost AS INT) AS n_mm_tokens,
        |  CAST(floor(CAST(cum - cost AS DOUBLE) / CAST(512 AS DOUBLE))
        |    AS INT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_image_phash_neardups" ->
      s"""WITH srcu AS (SELECT doc_id, text FROM documents
         |       WHERE strlen(text) = length(text)
         |     UNION ALL
         |     SELECT doc_id + 100000, 'xxxxx' || text[6:]
         |     FROM documents WHERE doc_id < 10 AND length(text) >= 5
         |       AND strlen(text) = length(text)),
         |${phashCteSql("srcu")},
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        bit_count(xor(a.phash_hi, b.phash_hi))
         |          + bit_count(xor(a.phash_lo, b.phash_lo)) AS hamming
         |      FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
         |FROM p WHERE hamming <= 7 ORDER BY id_a, id_b""".stripMargin,

    "q_image_dedup_clusters" ->
      s"""WITH RECURSIVE srcu AS (SELECT doc_id, text FROM documents
         |       WHERE strlen(text) = length(text)
         |     UNION ALL
         |     SELECT doc_id + 100000, 'xxxxx' || text[6:]
         |     FROM documents WHERE doc_id < 10 AND length(text) >= 5
         |       AND strlen(text) = length(text)),
         |${phashCteSql("srcu")},
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        bit_count(xor(a.phash_hi, b.phash_hi))
         |          + bit_count(xor(a.phash_lo, b.phash_lo)) AS hamming
         |      FROM ph a JOIN ph b ON a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |            WHERE hamming <= 7
         |          UNION SELECT id_b, id_a FROM p WHERE hamming <= 7),
         |cc(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, c.label FROM edges e JOIN cc c ON c.id = e.dst)
         |SELECT id AS doc_id, min(label) AS cluster
         |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin
  )

  /** CTE chain producing `ph(doc_id, phash_hi, phash_lo)` — the exact
    * integer-arithmetic mirror of [[graft.functions.DHash64]] replayed
    * from the text column (ASCII guard ⇒ UTF-8 bytes == code points):
    * per-byte cell assignment `(i·72)/n`, per-cell (Σ, count), gradient
    * bit via the same `sum_a·len_b > sum_b·len_a` cross-multiplication,
    * hash assembled as two unsigned 32-bit halves.
    */
  private def phashCteSql(src: String): String =
    s"""d AS (SELECT doc_id, text, length(text) AS n FROM $src
      |       WHERE strlen(text) = length(text)),
      |px AS (SELECT doc_id, (i * 72) // n AS cell,
      |         ascii(text[i+1:i+1]) AS v
      |       FROM (SELECT doc_id, text, n, unnest(range(0, n)) AS i FROM d)),
      |cg AS (SELECT doc_id, cell, CAST(sum(v) AS BIGINT) AS s,
      |         CAST(count(*) AS BIGINT) AS l
      |       FROM px GROUP BY 1, 2),
      |grid AS (SELECT dd.doc_id, cc.cell,
      |           coalesce(cg.s, 0) AS s, coalesce(cg.l, 0) AS l
      |         FROM (SELECT doc_id FROM d) dd
      |         CROSS JOIN (SELECT unnest(range(0, 72)) AS cell) cc
      |         LEFT JOIN cg ON cg.doc_id = dd.doc_id AND cg.cell = cc.cell),
      |bits AS (SELECT a.doc_id,
      |           (a.cell // 9) * 8 + (a.cell % 9) AS bit
      |         FROM grid a JOIN grid b
      |           ON b.doc_id = a.doc_id AND b.cell = a.cell + 1
      |         WHERE (a.cell % 9) < 8 AND a.s * b.l > b.s * a.l),
      |ph AS (SELECT d.doc_id,
      |         CAST(coalesce(sum(CASE WHEN bit >= 32
      |           THEN CAST(1 AS BIGINT) << (bit - 32) END), 0) AS BIGINT) AS phash_hi,
      |         CAST(coalesce(sum(CASE WHEN bit < 32
      |           THEN CAST(1 AS BIGINT) << bit END), 0) AS BIGINT) AS phash_lo
      |       FROM d LEFT JOIN bits ON bits.doc_id = d.doc_id GROUP BY 1)""".stripMargin
}
