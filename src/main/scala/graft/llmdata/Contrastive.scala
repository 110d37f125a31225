package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-pair assembly for contrastive / embedding-model training —
  * the data-side half of a retrieval training pipeline (the reference
  * stops at feature extraction; these are the ops a 100 TB pair-mining
  * run actually needs).
  *
  * Scale shapes:
  *  - in-batch negatives: batch id is a content hash — ONE shuffle of
  *    the corpus keyed by batch, pairs materialize per-batch (batch
  *    count grows with the corpus, per-batch work is O(B²) for a
  *    constant expected batch size B — never a global window or sort).
  *  - hard negatives: the [[Ann]] cosine search against a BROADCAST
  *    anchor set (anchors are always the small side in mining runs),
  *    ranked per anchor by its bounded-heap top-k — no per-anchor
  *    window over the corpus.
  */
object Contrastive {

  /** 60-bit md5 content hash — the shared repo convention. */
  private def h60(key: Column, salt: String): Column =
    graft.core.Hashing.h60(key, salt)

  /** In-batch negative pairs: rows are hashed into `nBatches` batches;
    * within a batch every (anchor, other) pair with DIFFERENT labels
    * becomes a negative example — exactly the negatives a contrastive
    * loss sees when these batches are the training batches. Output:
    * (batch, anchor_id, neg_id), both directions (the loss is
    * asymmetric per anchor).
    */
  def inBatchNegatives(df: DataFrame, idCol: String, labelCol: String,
      nBatches: Int, salt: String = "ibn"): DataFrame = {
    require(nBatches > 0, s"nBatches must be positive, got $nBatches")
    val withBatch = df.select(col(idCol).as("anchor_id"),
      col(labelCol).as("__lbl"),
      pmod(h60(col(idCol), salt), lit(nBatches.toLong)).as("batch"))
    val other = withBatch.select(col("anchor_id").as("neg_id"),
      col("__lbl").as("__lbl_n"), col("batch"))
    withBatch.join(other, Seq("batch"))
      .filter(col("anchor_id") =!= col("neg_id") && col("__lbl") =!= col("__lbl_n"))
      .select(col("batch"), col("anchor_id"), col("neg_id"))
  }

  /** Hard-negative mining: for each anchor vector, the top-k most
    * similar corpus vectors whose label DIFFERS from the anchor's —
    * the near-misses a contrastive trainer upweights. Ranking is on
    * round(cos, 6) with id tiebreak (repo convention: never let a
    * cross-engine ulp flip a rank-k boundary). Output:
    * (anchor_id, rank, neg_id, cos).
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    Ann.cosineSearch(corpus, vecCol,
        anchors.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          col(labelCol).as("__albl")),
        idCol, k, rounded = true,
        pairFilter = Some(col(labelCol) =!= col("__albl")))
      .select(col("query_id").as("anchor_id"), col("rank"),
        col("neighbor_id").as("neg_id"), col("cos"))
  }

  /** Deterministic shard assignment + per-shard manifest — what a
    * 100 TB corpus writer emits next to its shards so a consumer can
    * audit them without re-reading data. Shard = content hash of the id
    * (stable under reordering and re-runs); per shard: row count, size
    * sum, and an ORDER-INDEPENDENT content checksum (bit_xor of each
    * row's 60-bit id hash — any dropped/duplicated/corrupted id flips
    * it). ONE hash aggregate over the corpus.
    */
  def shardManifest(df: DataFrame, idCol: String, sizeCol: String,
      nShards: Int, salt: String = "shard"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    df.groupBy(pmod(h60(col(idCol), salt), lit(nShards.toLong)).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol).cast("long")).as("total_size"),
        expr(s"bit_xor(cast(conv(substring(md5(concat('$salt', " +
          s"cast($idCol as string))), 1, 15), 16, 10) as bigint))")
          .as("checksum"))
  }
}
