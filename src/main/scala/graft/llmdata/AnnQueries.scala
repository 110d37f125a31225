package graft.llmdata

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Memos, QueryPack, Tables}

/** ANN / embedding-space operator gates (SURVEY.md LLM-data additions:
  * brute-force, LSH, IVF, PQ, PQ+rerank, IVFPQ, SQ8, SemDeDup,
  * embedding preprocessing and outliers), split out of
  * LlmDataQueries.scala — query names and oracle SQL are byte-identical
  * to their pre-split forms. The trained-index memos (IVF centroids,
  * PQ codebooks, SQ grid) live here with their generated literal-VALUES
  * oracles (the trainedIvfOracle technique).
  */
object AnnQueries extends QueryPack {

  /** Three fixed 64-d centroids (simple deterministic lattice) shared by
    * the q_ann_ivf_fixed query and its generated SQL oracle.
    */
  private[llmdata] val fixedIvfCentroids: Array[Array[Double]] =
    Array.tabulate(3, 64)((j, i) => ((j * 64 + i) % 7 - 3) / 3.0)

  /** q_ann_ivf and q_ann_ivf_recall gate the SAME seed-deterministic
    * quantizer training (identical nList/sample/iters/seed): train once
    * per data dir, gate twice. The memo holds only the centroid matrix
    * (nList·dim doubles).
    */
  private val trainedIvfCentroids = Memos.memo { (s, dir) =>
    Ann.ivfIndex(Tables.embeddings(s, dir), "embedding", nList = 8, dim = 64,
      sampleSize = 2000, iters = 5, seed = 42)
  }

  /** q_ann_pq's product-quantization codebooks: trained once per data
    * dir on the same content-hash uniform sample as the IVF quantizer
    * (m·ksub·dsub doubles — driver-tiny).
    */
  private val trainedPqCodebooks = Memos.memo { (s, dir) =>
    Ann.pqTrain(Tables.embeddings(s, dir), "embedding", m = 8, ksub = 16,
      dim = 64, sampleSize = 2000, iters = 5, seed = 42)
  }

  /** q_ann_sq8's per-dimension quantization grid: one aggregate pass
    * per data dir (2·64 driver doubles).
    */
  private val trainedSqGrid = Memos.memo { (s, dir) =>
    Ann.sqTrain(Tables.embeddings(s, dir), "embedding", dim = 64)
  }


  /** Generated IVF probe-search oracle for arbitrary literal centroids —
    * the q_ann_ivf_fixed SQL generalized from 3 hardcoded cells to any
    * nList (cell argmin and probe ranking via row_number ORDER BY d, j,
    * which matches Spark's first-minimum array_position and its
    * array_sort over (d, i) structs tie-for-tie).
    */
  private def ivfOracleSql(cs: Array[Array[Double]], nProbe: Int): String = {
    val dim = cs(0).length
    val centRows = (for (j <- cs.indices; i <- 0 until dim)
      yield s"($j,${i + 1},${cs(j)(i)})").mkString(",")
    // the EXACT double literals the Spark plan bakes in for ‖c_j‖²
    val norms = cs.map(_.map(v => v * v).sum)
    val normCase = "CASE j " + norms.init.zipWithIndex
      .map { case (n, j) => s"WHEN $j THEN $n" }.mkString(" ") +
      s" ELSE ${norms.last} END"
    s"""WITH cent(j, i, c) AS (SELECT * FROM (VALUES $centRows)),
       |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |        generate_subscripts(embedding, 1) AS i FROM embeddings),
       |cd AS (SELECT vec_id, j,
       |         sum(e * c) * (-2.0) + $normCase AS d
       |       FROM x JOIN cent USING (i) GROUP BY vec_id, j),
       |cells AS (SELECT vec_id, j AS cell
       |          FROM (SELECT vec_id, j,
       |                  row_number() OVER (PARTITION BY vec_id
       |                    ORDER BY d, j) AS rn
       |                FROM cd) t WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, j AS cell
       |           FROM (SELECT vec_id, j,
       |                   row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY d, j) AS pr
       |                 FROM cd WHERE vec_id < 10) t WHERE pr <= $nProbe),
       |pairs AS (SELECT p.query_id, c.vec_id
       |          FROM probes p JOIN cells c USING (cell)
       |          WHERE c.vec_id != p.query_id),
       |xx AS (SELECT p.query_id, p.vec_id,
       |         unnest(qe.embedding)::DOUBLE AS a,
       |         unnest(ce.embedding)::DOUBLE AS b
       |       FROM pairs p
       |       JOIN embeddings qe ON qe.vec_id = p.query_id
       |       JOIN embeddings ce ON ce.vec_id = p.vec_id),
       |cos AS (SELECT query_id, vec_id,
       |          sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS cos
       |        FROM xx GROUP BY 1, 2),
       |r AS (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, vec_id) AS rank FROM cos)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(cos, 6) AS cos
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(

    // MMR diverse re-ranking (Retrieval.mmrSelect, SIGIR'98): query =
    // vec 0, candidates = dot-product top-30 (TakeOrdered — bounded,
    // never a window), then 5 greedy λ=0.7 picks with running-max
    // redundancy; every sim/score rounded 6 with id-asc ties, replayed
    // step-by-step in the generated oracle.
    "q_mmr_select" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qvec = emb.where(col("vec_id") === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toArray
      val cands = emb.where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(graft.functions.VecDot(col("embedding"), lit(qvec)), 6)
            .as("rel"),
          col("embedding"))
        .orderBy(col("rel").desc, col("vec_id")).limit(30)
      Retrieval.mmrSelect(cands, "vec_id", "rel", "embedding",
        k = 5, lambda = 0.7).orderBy("step")
    }),

    // Grid-cell DBSCAN (cluster/GridDbscan.scala) on the 2D fixed-basis
    // projection: eps=0.4 cells, minPts=6, dense-cell 8-neighborhood CC
    // via the shared connectedComponents; per-point labels (least dense
    // cell id, −1 noise) replayed by a recursive-CTE oracle.
    "q_grid_dbscan" -> ((s, dir) => {
      val p = Ann.projectExpr(col("embedding"), fixedIvfCentroids.take(2))
      val pts = Tables.embeddings(s, dir).select(col("vec_id"),
        round(element_at(p, 1), 6).as("p0"),
        round(element_at(p, 2), 6).as("p1"))
      graft.cluster.GridDbscan.gridCluster(pts, "vec_id", "p0", "p1",
        eps = 0.4, minPts = 6)
        .orderBy("id")
    }),

    // L2 normalization (native VecNormalize codegen loop): first
    // component of the unit vector + its recomputed norm, both exactly
    // mirrored (sequential element order on both engines).
    "q_embedding_normalize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val nv = Ann.l2NormalizeExpr(col("embedding"))
      e.select(col("vec_id"),
        round(element_at(nv, 1), 6).as("e0"),
        round(Ann.normExpr(nv), 6).as("unit_norm"))
        .orderBy("vec_id")
    }),


    // Matryoshka truncation (Kusupati 2205.13147): first-16-dims
    // sub-embedding re-normalized, plus the L2 mass the prefix retains
    // of the full vector — the storage/latency knob ahead of ANN.
    "q_embedding_truncate" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val t = Ann.truncateNormalizeExpr(col("embedding"), 16)
      e.select(col("vec_id"),
        round(element_at(t, 1), 6).as("e0"),
        round(Ann.normExpr(t), 6).as("unit_norm"),
        round(Ann.normExpr(slice(col("embedding"), 1, 16)) /
          Ann.normExpr(col("embedding")), 6).as("retained_mass"))
        .orderBy("vec_id")
    }),


    // Coreset selection by k-center greedy / farthest-first (Gonzalez
    // 1985; Sener & Savarese ICLR'18 as the training-set pruning
    // rule): 8 centers over the embedding corpus, state = ONE
    // persisted (id, vec, min-dist) frame updated per step against a
    // broadcast 1-row newest center; output is the cover-radius
    // trajectory. Oracle: generated chained CTEs replaying the
    // identical quantized selections (llmdata/Coreset.scala).
    "q_kcenter_coreset" -> ((s, dir) =>
      Coreset.kCenterGreedy(Tables.embeddings(s, dir), "embedding",
          "vec_id", k = 8)
        .orderBy("step")),

    // Margin-based bitext mining (Artetxe & Schwenk ACL'19, the
    // LASER/CCMatrix recipe): en→de candidate cosines scored by the
    // ratio margin (hubness-normalized by each side's top-4 mean),
    // mutual margin-best pairs above threshold. Brute-force candidates
    // at gate scale; the scorer consumes any candidate frame (ANN
    // top-k join at volume). See llmdata/Bitext.scala.
    "q_bitext_mine" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang")
      val emb = Tables.embeddings(s, dir)
      def side(l: String) =
        emb.join(docs.filter(col("lang") === l),
          col("vec_id") === col("doc_id"))
      val pairs = Bitext.candidateCosines(side("en"), side("de"),
        "embedding", "vec_id")
      Bitext.mineMutualBest(pairs, k = 4, threshold = 1.0)
        .orderBy("src_id")
    }),

    // The SCALE PATH of the same miner: candidates from an EQUI-join
    // on the 4-plane LSH signature (2^4 buckets bound every join
    // group; recall < 1 by design, the CCMatrix tradeoff), identical
    // margin scoring downstream — brute force and LSH differ only in
    // the candidate frame, which is exactly the swap a 100 TB run makes.
    "q_bitext_mine_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang")
      val emb = Tables.embeddings(s, dir)
      def side(l: String) =
        emb.join(docs.filter(col("lang") === l),
          col("vec_id") === col("doc_id"))
      val pairs = Bitext.lshCandidateCosines(side("en"), side("de"),
        "embedding", "vec_id", nPlanes = 4, dim = 64)
      Bitext.mineMutualBest(pairs, k = 4, threshold = 1.0)
        .orderBy("src_id")
    }),

    // Map-only dimensionality reduction: projection onto the fixed
    // 3×64 literal basis (scan-fused VecDots); the standard front-end
    // of an ANN index at scale.
    "q_embedding_project" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val p = Ann.projectExpr(col("embedding"), fixedIvfCentroids)
      e.select(col("vec_id"),
        round(element_at(p, 1), 6).as("p0"),
        round(element_at(p, 2), 6).as("p1"),
        round(element_at(p, 3), 6).as("p2"))
        .orderBy("vec_id")
    }),


    // SemDeDup (Abbas et al. 2023): cluster embeddings with the FIXED
    // literal codebook (exactly SQL-reproducible), then within-cluster
    // cosine pairs ≥ t. Gates cell assignment + the capped self-join +
    // the cosine arithmetic end to end.
    "q_semdedup" -> ((s, dir) =>
      Ann.semanticNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedIvfCentroids, threshold = 0.4)
        .select(col("cluster"), col("id_a"), col("id_b"),
          round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")),


    "q_ann_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.cosineTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // LSH ANN — EXACT oracle: the ±1 hyperplanes are deterministic
    // constants (md5-bit-derived), embedded as literals in the generated
    // SQL; bucket assignment + in-bucket cosine top-k are then fully
    // SQL-expressible (sign flips only at dot==0, measure zero).
    "q_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.lshCosineTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nPlanes = 4, dim = 64)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // IVF ANN with the LIVE-TRAINED quantizer — exact-gated: the
    // deterministic centroids are embedded as literal VALUES in the
    // generated oracle (see trainedIvfOracle); recall vs brute force is
    // additionally gated by q_ann_ivf_recall.
    "q_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.ivfCosineTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, trainedIvfCentroids(s, dir), nProbe = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // IVF search path with FIXED literal centroids (the learned-index
    // q_ann_ivf stays rows-only; this gates cell assignment, probe-cell
    // ranking, and in-cell top-k exactly — the distributed 99% of IVF).
    "q_ann_ivf_fixed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.ivfCosineTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, fixedIvfCentroids, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // Learned-index invariant gate (the q_kmeans_fit_invariants
    // pattern): the trained quantizer is seed-deterministic but not
    // SQL-expressible, so gate the properties that matter — every query
    // gets exactly k neighbors, the probe search never fabricates a
    // neighbor outside the corpus, and recall@k against the EXACT
    // brute-force top-k stays above the nProbe=3-of-8-cells design
    // floor (measured 0.68-0.71 across sf0.001/0.01/0.1 vs 0.375 for
    // random cell probing; gated at 0.6 for seed/data drift margin). A
    // centroid-quality regression (e.g. the r4 biased-sample defect)
    // shows up as a recall drop and flips the hash.
    // Incremental ANN ingest (Ann.ivfPqIndexEntries): the vec_id >= 450
    // slice plays the fresh shard, assigned to the TRAINED IVF/PQ index
    // (same memoized centroids/codebooks as q_ann_ivf/q_ann_ivfpq)
    // without retraining — one scan-fused projection. EXACT oracle via
    // the trained-literal-VALUES technique; code arrays exploded to
    // (j, code) rows so every output cell is scalar.
    "q_ann_ingest" -> ((s, dir) => {
      val batch = Tables.embeddings(s, dir).where(col("vec_id") >= 450)
      Ann.ivfPqIndexEntries(batch, "vec_id", "embedding",
          trainedIvfCentroids(s, dir), trainedPqCodebooks(s, dir))
        .select(col("id").as("vec_id"), col("cell"),
          posexplode(col("code")).as(Seq("j", "code")), col("norm"))
        .orderBy("vec_id", "j")
    }),

    // First-class kNN-graph operator, scale path: Ann.knnGraphLsh
    // (hyperplane buckets + Hamming-1 multi-probe + bounded top-k
    // heap) recall-gated against the exact Ann.knnGraph on the same
    // slice — the q_ann_ivf_recall pattern. rows_ok pins the degree
    // bound (≤ k per node, no duplicate edges). Measured recall
    // 0.62-0.65 across sf0.001/0.01/0.1 at 3 planes + Hamming-1 on
    // the near-random synthetic embeddings (vs ~0.19 for random
    // 4-of-8-bucket candidates); gated at 0.5 for seed/data drift
    // margin — a bucketing regression flips the hash.
    "q_knn_graph" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).where(col("vec_id") < 300)
      val lsh = Ann.knnGraphLsh(emb, "vec_id", "embedding", k = 5,
          nPlanes = 3, dim = 64, multiProbe = 1)
        .select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val brute = Ann.knnGraph(emb, "vec_id", "embedding", k = 5)
        .select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val n = emb.count()
      val recall = lsh.count(brute.contains).toDouble / brute.size
      val degOk = lsh.groupBy(_._1).values.map(_.size).max <= 5
      import s.implicits._
      Seq((n, 5, lsh.length <= 5 * n && lsh.distinct.length == lsh.length
          && degOk, recall >= 0.5))
        .toDF("n_nodes", "k", "rows_ok", "recall_ok")
    }),

    "q_ann_ivf_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 30)
      val ivf = Ann.ivfCosineTopK(e, q, "vec_id", "embedding", k = 3,
        trainedIvfCentroids(s, dir), nProbe = 3)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val brute = Ann.cosineTopK(e, q, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nQ = q.count()
      val recall = ivf.count(brute.contains).toDouble / brute.size
      import s.implicits._
      Seq((nQ, 3, ivf.length == 3 * nQ && ivf.distinct.length == ivf.length,
        recall >= 0.6))
        .toDF("n_queries", "k", "rows_ok", "recall_ok")
    }),


    "q_embedding_norms" -> ((s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        round(Ann.normExpr(col("embedding")), 6).as("norm"),
        size(col("embedding")).as("dim"))
        .orderBy("vec_id")),


    // IVFPQ — the composed FAISS workhorse: probe nProbe coarse cells,
    // score candidates by the m-lookup ADC sum. Both learned stages are
    // deterministic, so the composed gate is exact (trainedIvfPqOracle
    // embeds centroids AND codebooks as literal VALUES).
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3, trainedIvfCentroids(s, dir),
        trainedPqCodebooks(s, dir), nProbe = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc_d"), 6).as("adc_d"))
        .orderBy("query_id", "rank")
    }),


    // PQ + exact re-rank (IVFADC+R shape, PAMI'11 §VII): ADC retrieves
    // 20 coarse candidates, true cosine re-scores ONLY those — the
    // recall-recovery step a production PQ deployment runs. Exact gate
    // via the widened ADC oracle chain + the IVF oracle's cosine
    // fragment.
    "q_ann_pq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.pqAdcTopKReranked(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3, trainedPqCodebooks(s, dir), rerank = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // Product-quantization ANN (PAMI'11 §IV / FAISS IndexPQ): corpus
    // rows carry only their m-byte codes, queries their in-plan
    // distance tables; each pair score is m codegen'd lookups. The
    // deterministic training makes the gate exact — the trained
    // codebooks are embedded as oracle VALUES (trainedPqOracle).
    "q_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Ann.pqAdcTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3, trainedPqCodebooks(s, dir))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc_d"), 6).as("adc_d"))
        .orderBy("query_id", "rank")
    }),


    // Scalar 8-bit quantization ANN (FAISS SQ8 baseline): corpus scored
    // from reconstructed vectors, queries exact; per-dim grid embedded
    // as oracle VALUES (trainedSqOracle).
    "q_ann_sq8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (mins, scales) = trainedSqGrid(s, dir)
      Ann.sqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3, mins, scales)
        .orderBy("query_id", "rank")
    }),


    // Per-label embedding outliers: distance to label centroid flagged
    // at mean + 2σ — broadcast centroids, index-ordered fold matching
    // the oracle's ordered sum, rounded-boundary flag.
    "q_embedding_outliers" -> ((s, dir) =>
      Ann.embeddingOutliers(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label")
        .orderBy("vec_id"))
  )

  /** Generated k-center-greedy oracle: the full farthest-first
    * trajectory as chained CTEs — per step, squared-euclidean
    * distances to the newest center (selected IN SQL by the same
    * (round(d,6) DESC, id ASC) rule, so no literals are interpolated),
    * folded into the running min with `least`.
    */
  private def kcenterOracleSql(k: Int): String = {
    def distTo(sel: String): String =
      s"""(SELECT a.vec_id, sum((a.e - b.e) * (a.e - b.e)) AS d
         |   FROM x a JOIN (SELECT i, e FROM x JOIN $sel ON x.vec_id = $sel.cid)
         |     b USING (i) GROUP BY a.vec_id)""".stripMargin
    val steps = (1 until k).map { j =>
      val m = if (j == 1)
        s"""m1 AS MATERIALIZED (SELECT vec_id, d FROM ${distTo("c0")} t)"""
      else
        s"""m$j AS MATERIALIZED (SELECT m.vec_id, least(m.d, nd.d) AS d
           |  FROM m${j - 1} m JOIN ${distTo(s"s${j - 1}")} nd
           |    ON nd.vec_id = m.vec_id)""".stripMargin
      s"""$m,
         |s$j AS MATERIALIZED (SELECT vec_id AS cid, round(d, 6) AS radius
         |  FROM m$j ORDER BY round(d, 6) DESC, vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (1 until k)
      .map(j => s"UNION ALL SELECT $j, cid, radius FROM s$j").mkString("\n")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |        generate_subscripts(embedding, 1) AS i FROM embeddings),
       |c0 AS MATERIALIZED (SELECT min(vec_id) AS cid FROM embeddings),
       |$steps
       |SELECT CAST(step AS INTEGER) AS step, center_id, radius FROM (
       |  SELECT 0 AS step, cid AS center_id, 0.0 AS radius FROM c0
       |  $rows) ORDER BY step""".stripMargin
  }

  /** Bitext-mining mirror: unit vectors, cross cosines, top-k means as
    * ORDERED sums over the rank-filtered rows (the same
    * (cos DESC, id ASC) fold order the Spark side fixes by sorting its
    * collected array), ratio margin, mutual best via window ranks.
    */
  private def bitextSideCtes(tag: String, lang: String): String =
    s"""${tag}d AS MATERIALIZED (SELECT e.vec_id AS id, e.embedding
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |  WHERE d.lang = '$lang'),
       |x$tag AS MATERIALIZED (SELECT id, unnest(embedding)::DOUBLE AS e,
       |  generate_subscripts(embedding, 1) AS i FROM ${tag}d),
       |n$tag AS MATERIALIZED (SELECT id, sqrt(sum(e*e)) AS n FROM x$tag GROUP BY id),
       |u$tag AS MATERIALIZED (SELECT x$tag.id, i, e / n AS u
       |  FROM x$tag JOIN n$tag USING (id))""".stripMargin

  /** Margin-mining mirror from a candidate CTE `p(ia, ib, cos)` down to
    * the mined rows — shared verbatim by the brute-force and LSH gates
    * (the two may only differ in how `p` is produced).
    */
  private def bitextMarginSql(k: Int, threshold: Double): String =
    s"""ra AS (SELECT ia, ib, cos,
       |    row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ib ASC) AS rk,
       |    count(*) OVER (PARTITION BY ia) AS nc
       |  FROM p),
       |ka AS (SELECT ia, sum(cos ORDER BY cos DESC, ib ASC)
       |    / least($k, max(nc)) AS ma
       |  FROM ra WHERE rk <= $k GROUP BY ia),
       |rb AS (SELECT ia, ib, cos,
       |    row_number() OVER (PARTITION BY ib ORDER BY cos DESC, ia ASC) AS rk,
       |    count(*) OVER (PARTITION BY ib) AS nc
       |  FROM p),
       |kb AS (SELECT ib, sum(cos ORDER BY cos DESC, ia ASC)
       |    / least($k, max(nc)) AS mb
       |  FROM rb WHERE rk <= $k GROUP BY ib),
       |m AS MATERIALIZED (SELECT ia, ib, cos,
       |    cos / ((ma + mb) / 2.0) AS mg
       |  FROM p JOIN ka USING (ia) JOIN kb USING (ib)),
       |fwd AS (SELECT ia, ib, cos, mg FROM (SELECT *, row_number() OVER
       |    (PARTITION BY ia ORDER BY round(mg, 6) DESC, ib ASC) AS rk FROM m)
       |  WHERE rk = 1),
       |bwd AS (SELECT ia, ib FROM (SELECT ia, ib, row_number() OVER
       |    (PARTITION BY ib ORDER BY round(mg, 6) DESC, ia ASC) AS rk FROM m)
       |  WHERE rk = 1)
       |SELECT f.ia AS src_id, f.ib AS tgt_id, round(f.cos, 6) AS cos,
       |  round(f.mg, 6) AS margin
       |FROM fwd f JOIN bwd USING (ia, ib)
       |WHERE round(f.mg, 6) >= $threshold
       |ORDER BY src_id""".stripMargin

  private def bitextOracleSql(k: Int, threshold: Double): String =
    s"""WITH ${bitextSideCtes("a", "en")},
       |${bitextSideCtes("b", "de")},
       |p AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib, sum(a.u * b.u) AS cos
       |  FROM ua a JOIN ub b USING (i) GROUP BY 1, 2),
       |${bitextMarginSql(k, threshold)}""".stripMargin

  /** LSH-path mirror: buckets from the SAME literal ±1 planes the
    * Spark plan bakes in (q_ann_lsh convention, raw-vector dots),
    * candidates an equi-join on bucket, then the shared margin CTEs.
    */
  private def bitextLshOracleSql(k: Int, threshold: Double,
      nPlanes: Int, dim: Int): String = {
    val planes = Ann.hyperplanes(nPlanes, dim, seed = 42)
    val planeRows = (for (j <- planes.indices; i <- 0 until dim)
      yield s"($j,${i + 1},${if (planes(j)(i) > 0) 1 else -1})").mkString(",")
    def bucketCte(tag: String): String =
      s"""bx$tag AS (SELECT id, unnest(embedding)::DOUBLE AS e,
         |  generate_subscripts(embedding, 1) AS i FROM ${tag}d),
         |bd$tag AS (SELECT id, j, sum(e * w) AS d
         |  FROM bx$tag JOIN planes USING (i) GROUP BY id, j),
         |bk$tag AS (SELECT id,
         |    sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS bkt
         |  FROM bd$tag GROUP BY id)""".stripMargin
    s"""WITH planes(j, i, w) AS (SELECT * FROM (VALUES $planeRows)),
       |${bitextSideCtes("a", "en")},
       |${bitextSideCtes("b", "de")},
       |${bucketCte("a")},
       |${bucketCte("b")},
       |cand AS (SELECT ka.id AS ia, kb.id AS ib
       |  FROM bka ka JOIN bkb kb ON ka.bkt = kb.bkt),
       |p AS MATERIALIZED (SELECT c.ia, c.ib, sum(a.u * b.u) AS cos
       |  FROM cand c JOIN ua a ON a.id = c.ia JOIN ub b
       |    ON b.id = c.ib AND b.i = a.i
       |  GROUP BY 1, 2),
       |${bitextMarginSql(k, threshold)}""".stripMargin
  }

  /** MMR replay: candidate top-30 + pairwise candidate sims once, then
    * one (argmax, running-max-update) CTE pair per greedy step. The
    * (1−λ) literal is printed from the Scala double so both engines
    * subtract the same IEEE value (1.0 − 0.7 ≠ 0.3 exactly). */
  private def mmrOracleSql(k: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    val steps = (2 to k).map { j =>
      s"""m${j - 1} AS MATERIALIZED (SELECT m.id, m.rel,
         |    greatest(m.maxsim, cs.sim) AS maxsim
         |  FROM m${j - 2} m JOIN s${j - 1} sj ON m.id <> sj.id
         |  JOIN cs ON cs.ia = m.id AND cs.ib = sj.id),
         |s$j AS MATERIALIZED (SELECT id,
         |    round($lam * rel - $oneMinus * maxsim, 6) AS score
         |  FROM m${j - 1} ORDER BY score DESC, id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to k)
      .map(j => s"UNION ALL SELECT $j, id, score FROM s$j").mkString("\n")
    s"""WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings
       |  WHERE vec_id = 0),
       |qx AS MATERIALIZED (SELECT unnest(qe)::DOUBLE AS qe_e,
       |  generate_subscripts(qe, 1) AS i FROM q),
       |x AS MATERIALIZED (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |  generate_subscripts(embedding, 1) AS i FROM embeddings
       |  WHERE vec_id <> 0),
       |rel AS MATERIALIZED (SELECT vec_id,
       |  round(sum(e * qe_e), 6) AS rel FROM x JOIN qx USING (i)
       |  GROUP BY vec_id),
       |cand AS MATERIALIZED (SELECT vec_id AS id, rel FROM rel
       |  ORDER BY rel DESC, vec_id LIMIT 30),
       |cs AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,
       |    round(sum(xa.e * xb.e), 6) AS sim
       |  FROM cand a JOIN cand b ON a.id <> b.id
       |  JOIN x xa ON xa.vec_id = a.id
       |  JOIN x xb ON xb.vec_id = b.id AND xb.i = xa.i
       |  GROUP BY 1, 2),
       |m0 AS MATERIALIZED (SELECT id, rel, 0.0 AS maxsim FROM cand),
       |s1 AS MATERIALIZED (SELECT id,
       |    round($lam * rel - $oneMinus * maxsim, 6) AS score
       |  FROM m0 ORDER BY score DESC, id LIMIT 1),
       |$steps
       |SELECT CAST(step AS INT) AS step, id, score FROM (
       |  SELECT 1 AS step, id, score FROM s1
       |  $rows) ORDER BY step""".stripMargin
  }

  /** Grid-DBSCAN mirror: projection → eps cells → dense cells →
    * 8-neighborhood edges → recursive-CTE least-label CC → 3×3 point
    * labeling, all integer after the floor. */
  private val gridDbscanOracleSql: String = {
    val cs = fixedIvfCentroids.take(2)
    val centRows = (for (j <- cs.indices; i <- 0 until 64)
      yield s"($j,${i + 1},${cs(j)(i)})").mkString(",")
    s"""WITH RECURSIVE cent(j, i, c) AS (SELECT * FROM (VALUES $centRows)),
       |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |  generate_subscripts(embedding, 1) AS i FROM embeddings),
       |d AS (SELECT vec_id, j, round(sum(e * c), 6) AS p
       |  FROM x JOIN cent USING (i) GROUP BY 1, 2),
       |pv AS (SELECT vec_id,
       |    CAST(floor(max(CASE WHEN j = 0 THEN p END) / 0.4) AS BIGINT)
       |      AS cx,
       |    CAST(floor(max(CASE WHEN j = 1 THEN p END) / 0.4) AS BIGINT)
       |      AS cy
       |  FROM d GROUP BY 1),
       |dn AS (SELECT cx, cy,
       |    (cx + 1048576) * 2097152 + (cy + 1048576) AS cell
       |  FROM (SELECT cx, cy, count(*) AS n FROM pv GROUP BY 1, 2)
       |  WHERE n >= 6),
       |offs(dx, dy) AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),
       |  (0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1))),
       |eg AS (SELECT a.cell AS src, b.cell AS dst
       |  FROM dn a CROSS JOIN offs
       |  JOIN dn b ON b.cx = a.cx + dx AND b.cy = a.cy + dy),
       |edges AS (SELECT src, dst FROM eg UNION SELECT dst, src FROM eg),
       |cc(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e2.src, c.label FROM edges e2 JOIN cc c ON c.id = e2.dst),
       |comp AS (SELECT id AS cell, min(label) AS cluster FROM cc
       |  GROUP BY id),
       |dl AS (SELECT dn.cx, dn.cy, comp.cluster FROM dn
       |  JOIN comp USING (cell)),
       |lab AS (SELECT pv.vec_id, min(dl.cluster) AS cluster
       |  FROM pv CROSS JOIN offs
       |  JOIN dl ON dl.cx = pv.cx + dx AND dl.cy = pv.cy + dy
       |  GROUP BY 1)
       |SELECT pv.vec_id AS id, coalesce(lab.cluster, -1) AS cluster
       |FROM pv LEFT JOIN lab USING (vec_id) ORDER BY pv.vec_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_grid_dbscan" -> gridDbscanOracleSql,
    "q_mmr_select" -> mmrOracleSql(5, 0.7),
    "q_kcenter_coreset" -> kcenterOracleSql(8),
    "q_bitext_mine" -> bitextOracleSql(4, 1.0),
    "q_bitext_mine_lsh" -> bitextLshOracleSql(4, 1.0, 4, 64),

    // + 0.0 guards DuckDB's -0.0 from round() on near-zero components
    "q_embedding_truncate" ->
      """WITH x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
        |             generate_subscripts(embedding, 1) AS i FROM embeddings),
        |n16 AS (SELECT vec_id, sqrt(sum(e*e)) AS n16 FROM x
        |        WHERE i <= 16 GROUP BY 1),
        |nf AS (SELECT vec_id, sqrt(sum(e*e)) AS nf FROM x GROUP BY 1),
        |u AS (SELECT x.vec_id, sqrt(sum((e/n16)*(e/n16))) AS un
        |      FROM x JOIN n16 ON n16.vec_id = x.vec_id
        |      WHERE i <= 16 AND n16 > 0 GROUP BY 1),
        |f AS (SELECT vec_id, e AS first FROM x WHERE i = 1)
        |SELECT n16.vec_id AS vec_id,
        | round(CASE WHEN n16 > 0 THEN first/n16 ELSE first END, 6) + 0.0 AS e0,
        | round(coalesce(un, 0.0), 6) AS unit_norm,
        | round(n16 / nf, 6) AS retained_mass
        |FROM n16 JOIN f ON f.vec_id = n16.vec_id
        |JOIN nf ON nf.vec_id = n16.vec_id
        |LEFT JOIN u ON u.vec_id = n16.vec_id
        |ORDER BY vec_id""".stripMargin,

    "q_embedding_normalize" ->
      """WITH x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
        |             generate_subscripts(embedding, 1) AS i FROM embeddings),
        |n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM x GROUP BY 1),
        |u AS (SELECT x.vec_id,
        |        sqrt(sum((e/nrm)*(e/nrm))) AS un
        |      FROM x JOIN n ON n.vec_id = x.vec_id WHERE nrm > 0 GROUP BY 1),
        |f AS (SELECT vec_id, e AS first FROM x WHERE i = 1)
        |SELECT n.vec_id AS vec_id,
        | round(CASE WHEN nrm > 0 THEN first/nrm ELSE first END, 6) + 0.0 AS e0,
        | round(coalesce(un, 0.0), 6) AS unit_norm
        |FROM n JOIN f ON f.vec_id = n.vec_id
        |LEFT JOIN u ON u.vec_id = n.vec_id
        |ORDER BY n.vec_id""".stripMargin,

    "q_embedding_project" -> {
      val cs = fixedIvfCentroids
      val centRows = (for (j <- cs.indices; i <- 0 until 64)
        yield s"($j,${i + 1},${cs(j)(i)})").mkString(",")
      s"""WITH cent(j, i, c) AS (SELECT * FROM (VALUES $centRows)),
         |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
         |        generate_subscripts(embedding, 1) AS i FROM embeddings),
         |d AS (SELECT vec_id, j, sum(e*c) AS p
         |      FROM x JOIN cent USING (i) GROUP BY 1, 2)
         |SELECT vec_id,
         | round(max(CASE WHEN j=0 THEN p END), 6) + 0.0 AS p0,
         | round(max(CASE WHEN j=1 THEN p END), 6) + 0.0 AS p1,
         | round(max(CASE WHEN j=2 THEN p END), 6) + 0.0 AS p2
         |FROM d GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    "q_ann_ivf_recall" ->
      """SELECT count(*) AS n_queries, CAST(3 AS INT) AS k,
        | TRUE AS rows_ok, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 30""".stripMargin,

    "q_knn_graph" ->
      """SELECT count(*) AS n_nodes, CAST(5 AS INT) AS k,
        | TRUE AS rows_ok, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 300""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |x AS (SELECT query_id, vec_id,
        |        unnest(qe)::DOUBLE AS a, unnest(embedding)::DOUBLE AS b
        |      FROM q, embeddings WHERE vec_id != query_id),
        |c AS (SELECT query_id, vec_id,
        |        sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS cos
        |      FROM x GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, cos,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, vec_id) AS rank FROM c)
        |SELECT query_id, rank, vec_id AS neighbor_id, round(cos, 6) AS cos
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_ann_lsh" -> {
      // 4×64 ±1 plane weights as a literal (j, i, w) table — the same
      // deterministic constants the Spark side bakes into its plan
      val planes = Ann.hyperplanes(nPlanes = 4, dim = 64, seed = 42)
      val planeRows = (for (j <- planes.indices; i <- 0 until 64)
        yield s"($j,${i + 1},${if (planes(j)(i) > 0) 1 else -1})").mkString(",")
      s"""WITH planes(j, i, w) AS (SELECT * FROM (VALUES $planeRows)),
         |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
         |        generate_subscripts(embedding, 1) AS i FROM embeddings),
         |dots AS (SELECT vec_id, j, sum(e * w) AS d
         |         FROM x JOIN planes USING (i) GROUP BY vec_id, j),
         |bucket AS (SELECT vec_id,
         |             sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS bkt
         |           FROM dots GROUP BY vec_id),
         |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
         |          FROM bucket q JOIN bucket c ON q.bkt = c.bkt
         |          WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
         |xx AS (SELECT p.query_id, p.vec_id,
         |         unnest(qe.embedding)::DOUBLE AS a,
         |         unnest(ce.embedding)::DOUBLE AS b
         |       FROM pairs p
         |       JOIN embeddings qe ON qe.vec_id = p.query_id
         |       JOIN embeddings ce ON ce.vec_id = p.vec_id),
         |cos AS (SELECT query_id, vec_id,
         |          sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS cos
         |        FROM xx GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id, cos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, vec_id) AS rank FROM cos)
         |SELECT query_id, rank, vec_id AS neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },

    "q_ann_ivf_fixed" -> {
      val cs = fixedIvfCentroids
      val centRows = (for (j <- cs.indices; i <- 0 until 64)
        yield s"($j,${i + 1},${cs(j)(i)})").mkString(",")
      // the EXACT double literals the Spark plan bakes in for ‖c_j‖²
      val norms = cs.map(_.map(v => v * v).sum)
      s"""WITH cent(j, i, c) AS (SELECT * FROM (VALUES $centRows)),
         |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
         |        generate_subscripts(embedding, 1) AS i FROM embeddings),
         |cd AS (SELECT vec_id, j,
         |         sum(e * c) * (-2.0) +
         |           CASE j WHEN 0 THEN ${norms(0)} WHEN 1 THEN ${norms(1)}
         |                  ELSE ${norms(2)} END AS d
         |       FROM x JOIN cent USING (i) GROUP BY vec_id, j),
         |cells AS (SELECT vec_id,
         |            CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
         |                 WHEN d1 <= d2 THEN 1 ELSE 2 END AS cell
         |          FROM (SELECT vec_id,
         |                  max(CASE WHEN j=0 THEN d END) AS d0,
         |                  max(CASE WHEN j=1 THEN d END) AS d1,
         |                  max(CASE WHEN j=2 THEN d END) AS d2
         |                FROM cd GROUP BY vec_id) t),
         |probes AS (SELECT vec_id AS query_id, j AS cell
         |           FROM (SELECT vec_id, j, d,
         |                   row_number() OVER (PARTITION BY vec_id
         |                     ORDER BY d, j) AS pr
         |                 FROM cd WHERE vec_id < 10) t WHERE pr <= 2),
         |pairs AS (SELECT p.query_id, c.vec_id
         |          FROM probes p JOIN cells c USING (cell)
         |          WHERE c.vec_id != p.query_id),
         |xx AS (SELECT p.query_id, p.vec_id,
         |         unnest(qe.embedding)::DOUBLE AS a,
         |         unnest(ce.embedding)::DOUBLE AS b
         |       FROM pairs p
         |       JOIN embeddings qe ON qe.vec_id = p.query_id
         |       JOIN embeddings ce ON ce.vec_id = p.vec_id),
         |cos AS (SELECT query_id, vec_id,
         |          sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS cos
         |        FROM xx GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id, cos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, vec_id) AS rank FROM cos)
         |SELECT query_id, rank, vec_id AS neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },

    "q_embedding_norms" ->
      """SELECT vec_id,
        | round(sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')), 6) AS norm,
        | len(embedding) AS dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // SemDeDup mirror: the same literal codebook + first-minimum cell
    // assignment as the q_ann_ivf_fixed oracle, then within-cell pairs
    // with exact cosine; threshold applied BEFORE rounding, as in Spark.
    "q_semdedup" -> {
      val cs = fixedIvfCentroids
      val dim = cs(0).length
      val centRows = (for (j <- cs.indices; i <- 0 until dim)
        yield s"($j,${i + 1},${cs(j)(i)})").mkString(",")
      val norms = cs.map(_.map(v => v * v).sum)
      val normCase = "CASE j " + norms.init.zipWithIndex
        .map { case (n, j) => s"WHEN $j THEN $n" }.mkString(" ") +
        s" ELSE ${norms.last} END"
      s"""WITH cent(j, i, c) AS (SELECT * FROM (VALUES $centRows)),
         |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
         |        generate_subscripts(embedding, 1) AS i FROM embeddings),
         |cd AS (SELECT vec_id, j, sum(e * c) * (-2.0) + $normCase AS d
         |       FROM x JOIN cent USING (i) GROUP BY vec_id, j),
         |cells AS (SELECT vec_id, j AS cell
         |          FROM (SELECT vec_id, j,
         |                  row_number() OVER (PARTITION BY vec_id
         |                    ORDER BY d, j) AS rn
         |                FROM cd) t WHERE rn = 1),
         |n AS (SELECT vec_id, sqrt(sum(e*e)) AS nrm FROM x GROUP BY 1),
         |p AS (SELECT a.cell AS cluster, a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM cells a JOIN cells b
         |        ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dp AS (SELECT id_a, id_b, sum(xa.e * xb.e) AS dot
         |       FROM p JOIN x xa ON xa.vec_id = id_a
         |       JOIN x xb ON xb.vec_id = id_b AND xb.i = xa.i
         |       GROUP BY 1, 2),
         |c AS (SELECT p.cluster, p.id_a, p.id_b,
         |        dp.dot / (na.nrm * nb.nrm) AS cos
         |      FROM p JOIN dp USING (id_a, id_b)
         |      JOIN n na ON na.vec_id = p.id_a
         |      JOIN n nb ON nb.vec_id = p.id_b)
         |SELECT cluster, id_a, id_b, round(cos, 6) AS cos
         |FROM c WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin
    },


    "q_embedding_outliers" ->
      """WITH x AS (SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS e
        |  FROM embeddings),
        |c AS (SELECT label, i, avg(e) AS c FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.label,
        |    sqrt(sum((x.e - c.c) * (x.e - c.c) ORDER BY x.i)) AS dist
        |  FROM x JOIN c ON x.label = c.label AND x.i = c.i
        |  GROUP BY 1, 2),
        |st AS (SELECT label, avg(dist) AS mu, stddev_pop(dist) AS sd
        |  FROM d GROUP BY 1)
        |SELECT d.vec_id, d.label, round(d.dist, 6) AS dist,
        |  (round(d.dist, 6) > round(st.mu + 2 * st.sd, 6)) AS outlier
        |FROM d JOIN st USING (label)
        |ORDER BY vec_id""".stripMargin
  ) ++ trainedIvfOracle ++ trainedPqOracle ++ trainedIvfPqOracle ++
    trainedSqOracle


  /** EXACT oracle for q_ann_ivf (the live-trained quantizer): the
    * content-hash sample + seeded driver Lloyd make the centroids a
    * deterministic function of the data dir, so — Verify runs every
    * query BEFORE dumping oracle SQL — the trained centroids sit in
    * [[trainedIvfCentroids]] by generation time and can be embedded as literal
    * VALUES, the q_ann_ivf_fixed / q_hashing_tf technique. Emitted only
    * when the memo holds exactly one dir (a Verify run); on a subset run
    * that skipped q_ann_ivf the key is omitted and the driver falls back
    * to its rows-only check.
    */
  private def trainedIvfOracle: Map[String, String] = {
    trainedIvfCentroids.values match {
      case centroids :: Nil => Map("q_ann_ivf" -> ivfOracleSql(centroids, nProbe = 3))
      case _ => Map.empty
    }
  }

  /** EXACT oracle for q_ann_pq, by the same technique: the codebooks
    * are a deterministic function of the data dir and sit in
    * [[trainedPqCodebooks]] by oracle-generation time, so they embed as
    * literal VALUES. The
    * SQL mirrors the Spark arithmetic term for term: corpus encode
    * distance `s·(−2)+‖c‖²` (first-minimum per subspace), query table
    * entry `‖q_j‖² + (s·(−2)+‖c‖²)`, ADC = Σ_j table(code_j).
    */
  private def trainedPqOracle: Map[String, String] = {
    trainedPqCodebooks.values match {
      case cbs :: Nil => Map(
        "q_ann_pq" -> pqOracleSql(cbs, k = 3),
        "q_ann_pq_rerank" -> pqRerankOracleSql(cbs, rerank = 20, k = 3))
      case _ => Map.empty
    }
  }

  /** EXACT oracle for the composed IVFPQ search: both learned stages
    * sit in their memos by generation time (q_ann_ivf and q_ann_pq run
    * in the same Verify pass), so coarse centroids AND subspace
    * codebooks embed as literal VALUES. Probe ranking and cell argmin
    * mirror the IVF oracle; encode/table/ADC arithmetic mirrors the PQ
    * oracle; the two meet in the `pairs ⋈ codes ⋈ qd` ADC sum.
    */
  private def trainedIvfPqOracle: Map[String, String] = {
    (trainedIvfCentroids.values, trainedPqCodebooks.values) match {
      case (cents :: Nil, cbs :: Nil) =>
        Map("q_ann_ivfpq" -> ivfPqOracleSql(cents, cbs, nProbe = 3, k = 3),
          "q_ann_ingest" -> ingestOracleSql(cents, cbs))
      case _ => Map.empty
    }
  }

  /** EXACT oracle for the incremental-ingest projection: cell argmin
    * and per-subspace code argmin replay the IVFPQ oracle's `cells` /
    * `codes` fragments over the new-shard slice only; the norm is the
    * q_embedding_norms construction.
    */
  private def ingestOracleSql(cents: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]]): String = {
    val dim = cents(0).length
    val dsub = cbs(0)(0).length
    val centRows = (for (cl <- cents.indices; i <- 0 until dim)
      yield s"($cl,${i + 1},${cents(cl)(i)})").mkString(",")
    val norms = cents.map(_.map(v => v * v).sum)
    val normCase = "CASE cl " + norms.init.zipWithIndex
      .map { case (n, cl) => s"WHEN $cl THEN $n" }.mkString(" ") +
      s" ELSE ${norms.last} END"
    val cbRows = (for (j <- cbs.indices; cc <- cbs(j).indices; i <- 0 until dsub)
      yield s"($j,$cc,${i + 1},${cbs(j)(cc)(i)})").mkString(",")
    val cbnRows = (for (j <- cbs.indices; cc <- cbs(j).indices)
      yield s"($j,$cc,${cbs(j)(cc).map(v => v * v).sum})").mkString(",")
    s"""WITH cent(cl, i, c) AS (SELECT * FROM (VALUES $centRows)),
       |cb(j, cc, i, v) AS (SELECT * FROM (VALUES $cbRows)),
       |cbn(j, cc, n) AS (SELECT * FROM (VALUES $cbnRows)),
       |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |        generate_subscripts(embedding, 1) AS gi
       |      FROM embeddings WHERE vec_id >= 450),
       |cd AS (SELECT vec_id, cl, sum(e * c) * (-2.0) + $normCase AS d
       |       FROM x JOIN cent ON cent.i = x.gi GROUP BY vec_id, cl),
       |cells AS (SELECT vec_id, cl AS cell
       |          FROM (SELECT vec_id, cl,
       |                  row_number() OVER (PARTITION BY vec_id
       |                    ORDER BY d, cl) AS rn
       |                FROM cd) t WHERE rn = 1),
       |xs AS (SELECT vec_id, (gi - 1) // $dsub AS j,
       |         ((gi - 1) % $dsub) + 1 AS i, e FROM x),
       |cd0 AS (SELECT xs.vec_id, cb.j, cb.cc, sum(xs.e * cb.v) AS s
       |        FROM xs JOIN cb ON cb.j = xs.j AND cb.i = xs.i
       |        GROUP BY 1, 2, 3),
       |pd AS (SELECT vec_id, cd0.j, cd0.cc, cd0.s * (-2.0) + cbn.n AS d
       |       FROM cd0 JOIN cbn ON cbn.j = cd0.j AND cbn.cc = cd0.cc),
       |codes AS (SELECT vec_id, j, cc
       |          FROM (SELECT vec_id, j, cc,
       |                  row_number() OVER (PARTITION BY vec_id, j
       |                    ORDER BY d, cc) AS rn
       |                FROM pd) t WHERE rn = 1),
       |nrm AS (SELECT vec_id, round(sqrt(sum(e * e)), 6) AS norm
       |        FROM x GROUP BY 1)
       |SELECT co.vec_id, CAST(cells.cell AS INT) AS cell,
       |  CAST(co.j AS INT) AS j, CAST(co.cc AS INT) AS code, nrm.norm
       |FROM codes co JOIN cells ON cells.vec_id = co.vec_id
       |JOIN nrm ON nrm.vec_id = co.vec_id
       |ORDER BY co.vec_id, co.j""".stripMargin
  }

  private def ivfPqOracleSql(cents: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]], nProbe: Int, k: Int): String = {
    val dim = cents(0).length
    val dsub = cbs(0)(0).length
    val centRows = (for (cl <- cents.indices; i <- 0 until dim)
      yield s"($cl,${i + 1},${cents(cl)(i)})").mkString(",")
    val norms = cents.map(_.map(v => v * v).sum)
    val normCase = "CASE cl " + norms.init.zipWithIndex
      .map { case (n, cl) => s"WHEN $cl THEN $n" }.mkString(" ") +
      s" ELSE ${norms.last} END"
    val cbRows = (for (j <- cbs.indices; cc <- cbs(j).indices; i <- 0 until dsub)
      yield s"($j,$cc,${i + 1},${cbs(j)(cc)(i)})").mkString(",")
    val cbnRows = (for (j <- cbs.indices; cc <- cbs(j).indices)
      yield s"($j,$cc,${cbs(j)(cc).map(v => v * v).sum})").mkString(",")
    s"""WITH cent(cl, i, c) AS (SELECT * FROM (VALUES $centRows)),
       |cb(j, cc, i, v) AS (SELECT * FROM (VALUES $cbRows)),
       |cbn(j, cc, n) AS (SELECT * FROM (VALUES $cbnRows)),
       |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |        generate_subscripts(embedding, 1) AS gi FROM embeddings),
       |cd AS (SELECT vec_id, cl, sum(e * c) * (-2.0) + $normCase AS d
       |       FROM x JOIN cent ON cent.i = x.gi GROUP BY vec_id, cl),
       |cells AS (SELECT vec_id, cl AS cell
       |          FROM (SELECT vec_id, cl,
       |                  row_number() OVER (PARTITION BY vec_id
       |                    ORDER BY d, cl) AS rn
       |                FROM cd) t WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cl AS cell
       |           FROM (SELECT vec_id, cl,
       |                   row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY d, cl) AS pr
       |                 FROM cd WHERE vec_id < 10) t WHERE pr <= $nProbe),
       |xs AS (SELECT vec_id, (gi - 1) // $dsub AS j,
       |         ((gi - 1) % $dsub) + 1 AS i, e FROM x),
       |cd0 AS (SELECT xs.vec_id, cb.j, cb.cc, sum(xs.e * cb.v) AS s
       |        FROM xs JOIN cb ON cb.j = xs.j AND cb.i = xs.i
       |        GROUP BY 1, 2, 3),
       |pd AS (SELECT vec_id, cd0.j, cd0.cc, cd0.s * (-2.0) + cbn.n AS d
       |       FROM cd0 JOIN cbn ON cbn.j = cd0.j AND cbn.cc = cd0.cc),
       |codes AS (SELECT vec_id, j, cc
       |          FROM (SELECT vec_id, j, cc,
       |                  row_number() OVER (PARTITION BY vec_id, j
       |                    ORDER BY d, cc) AS rn
       |                FROM pd) t WHERE rn = 1),
       |qq AS (SELECT vec_id, j, sum(e * e) AS qq FROM xs
       |       WHERE vec_id < 10 GROUP BY 1, 2),
       |qd AS (SELECT cd0.vec_id AS query_id, cd0.j, cd0.cc,
       |         qq.qq + (cd0.s * (-2.0) + cbn.n) AS d
       |       FROM cd0 JOIN cbn ON cbn.j = cd0.j AND cbn.cc = cd0.cc
       |       JOIN qq ON qq.vec_id = cd0.vec_id AND qq.j = cd0.j
       |       WHERE cd0.vec_id < 10),
       |pairs AS (SELECT p.query_id, c.vec_id
       |          FROM probes p JOIN cells c USING (cell)
       |          WHERE c.vec_id != p.query_id),
       |adc AS (SELECT pr.query_id, pr.vec_id, sum(qd.d) AS d
       |        FROM pairs pr
       |        JOIN codes co ON co.vec_id = pr.vec_id
       |        JOIN qd ON qd.query_id = pr.query_id
       |          AND qd.j = co.j AND qd.cc = co.cc
       |        GROUP BY 1, 2),
       |r AS (SELECT query_id, vec_id, d,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY round(d, 6), vec_id) AS rank FROM adc)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(d, 6) AS adc_d
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Re-ranked PQ oracle: the flat ADC chain widened to `rerank`
    * candidates per query, then exact cosine re-ranking to `k` (the
    * xx/cos fragment of the IVF oracle).
    */
  private def pqRerankOracleSql(cbs: Array[Array[Array[Double]]],
      rerank: Int, k: Int): String = {
    val base = pqOracleSql(cbs, k = rerank)
    // swap the final ADC-ranked SELECT for a coarse-list CTE + exact
    // cosine re-rank: everything up to and including CTE `r` is reused
    val upToR = base.substring(0, base.indexOf("SELECT query_id, rank")).trim
    s"""$upToR,
       |coarse AS (SELECT query_id, vec_id FROM r WHERE rank <= $rerank),
       |xx AS (SELECT c.query_id, c.vec_id,
       |         unnest(qe.embedding)::DOUBLE AS a,
       |         unnest(ce.embedding)::DOUBLE AS b
       |       FROM coarse c
       |       JOIN embeddings qe ON qe.vec_id = c.query_id
       |       JOIN embeddings ce ON ce.vec_id = c.vec_id),
       |cos AS (SELECT query_id, vec_id,
       |          sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS cos
       |        FROM xx GROUP BY 1, 2),
       |rr AS (SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(cos, 6) DESC, vec_id) AS rank FROM cos)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(cos, 6) AS cos
       |FROM rr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** EXACT oracle for q_ann_sq8, by the trainedPqOracle technique: the
    * per-dim grid is a deterministic function of the data dir and sits
    * in [[trainedSqGrid]] by generation time. The SQL mirrors the Spark
    * arithmetic term for term: encode `clamp(round((x−mn)/sc),0,255)`,
    * decode `mn + code·sc`, asymmetric cosine (exact query · decoded
    * corpus), rank on round(cos, 6) ties by id.
    */
  private def trainedSqOracle: Map[String, String] = {
    trainedSqGrid.values match {
      case (mins, scales) :: Nil => Map("q_ann_sq8" -> sqOracleSql(mins, scales, k = 3))
      case _ => Map.empty
    }
  }

  private def sqOracleSql(mins: Array[Double], scales: Array[Double],
      k: Int): String = {
    val gridRows = mins.indices
      .map(d => s"(${d + 1},${mins(d)},${scales(d)})").mkString(",")
    s"""WITH sq(i, mn, sc) AS (SELECT * FROM (VALUES $gridRows)),
       |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |        generate_subscripts(embedding, 1) AS gi FROM embeddings),
       |xh AS (SELECT vec_id, gi,
       |         mn + least(greatest(round((e - mn) / sc), 0), 255) * sc AS xh
       |       FROM x JOIN sq ON sq.i = gi),
       |nc AS (SELECT vec_id, sqrt(sum(xh * xh)) AS nc FROM xh GROUP BY 1),
       |q AS (SELECT vec_id, gi, e FROM x WHERE vec_id < 10),
       |nq AS (SELECT vec_id, sqrt(sum(e * e)) AS nq FROM q GROUP BY 1),
       |dp AS (SELECT q.vec_id AS query_id, xh.vec_id, sum(q.e * xh.xh) AS dp
       |       FROM q JOIN xh ON xh.gi = q.gi AND xh.vec_id != q.vec_id
       |       GROUP BY 1, 2),
       |c AS (SELECT query_id, dp.vec_id,
       |        round(dp / (nq.nq * nc.nc), 6) AS cos
       |      FROM dp JOIN nq ON nq.vec_id = dp.query_id
       |      JOIN nc ON nc.vec_id = dp.vec_id),
       |r AS (SELECT query_id, vec_id, cos,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, vec_id) AS rank FROM c)
       |SELECT query_id, rank, vec_id AS neighbor_id, cos
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  private def pqOracleSql(cbs: Array[Array[Array[Double]]], k: Int): String = {
    val dsub = cbs(0)(0).length
    val cbRows = (for (j <- cbs.indices; c <- cbs(j).indices; i <- 0 until dsub)
      yield s"($j,$c,${i + 1},${cbs(j)(c)(i)})").mkString(",")
    val cbnRows = (for (j <- cbs.indices; c <- cbs(j).indices)
      yield s"($j,$c,${cbs(j)(c).map(v => v * v).sum})").mkString(",")
    s"""WITH cb(j, c, i, v) AS (SELECT * FROM (VALUES $cbRows)),
       |cbn(j, c, n) AS (SELECT * FROM (VALUES $cbnRows)),
       |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS e,
       |        generate_subscripts(embedding, 1) AS gi FROM embeddings),
       |xs AS (SELECT vec_id, (gi - 1) // $dsub AS j,
       |         ((gi - 1) % $dsub) + 1 AS i, e FROM x),
       |cd0 AS (SELECT xs.vec_id, cb.j, cb.c, sum(xs.e * cb.v) AS s
       |        FROM xs JOIN cb ON cb.j = xs.j AND cb.i = xs.i
       |        GROUP BY 1, 2, 3),
       |cd AS (SELECT vec_id, cd0.j, cd0.c, cd0.s * (-2.0) + cbn.n AS d
       |       FROM cd0 JOIN cbn ON cbn.j = cd0.j AND cbn.c = cd0.c),
       |codes AS (SELECT vec_id, j, c
       |          FROM (SELECT vec_id, j, c,
       |                  row_number() OVER (PARTITION BY vec_id, j
       |                    ORDER BY d, c) AS rn
       |                FROM cd) t WHERE rn = 1),
       |qq AS (SELECT vec_id, j, sum(e * e) AS qq FROM xs
       |       WHERE vec_id < 10 GROUP BY 1, 2),
       |qd AS (SELECT cd0.vec_id AS query_id, cd0.j, cd0.c,
       |         qq.qq + (cd0.s * (-2.0) + cbn.n) AS d
       |       FROM cd0 JOIN cbn ON cbn.j = cd0.j AND cbn.c = cd0.c
       |       JOIN qq ON qq.vec_id = cd0.vec_id AND qq.j = cd0.j
       |       WHERE cd0.vec_id < 10),
       |adc AS (SELECT qd.query_id, co.vec_id, sum(qd.d) AS d
       |        FROM codes co JOIN qd ON qd.j = co.j AND qd.c = co.c
       |        WHERE co.vec_id != qd.query_id
       |        GROUP BY 1, 2),
       |r AS (SELECT query_id, vec_id, d,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY round(d, 6), vec_id) AS rank FROM adc)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(d, 6) AS adc_d
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
