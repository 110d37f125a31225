package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Memos, Tables}
import graft.functions.HashedLinearScore

/** Trained document-quality classifier — the component real pipelines
  * use where graft's q_text_quality is a hand-weighted composite: a
  * logistic model over hashed bag-of-words features (fastText-style,
  * Joulin arXiv:1607.01759) trained IN-REPO with [[graft.linear
  * .LogisticRegression]] on weak labels derived from the engine's own
  * repetition/uniqueness signals (the CCNet/Gopher recipe shape:
  * bootstrap a cheap scorer from rule signals, then apply it at scale).
  *
  * Train-time: one explode+groupBy builds the D-bucket count features
  * (bounded: D columns; at 100 TB you train on a content-hash sample —
  * [[graft.modelselection.Splits.hashSample]] — never the corpus).
  * Score-time: NO features materialize — the margin collapses to a
  * per-token weight sum ([[HashedLinearScore]]), scan-fused, shuffle-
  * free, with the learned weights embedded in the plan.
  */
object QualityClassifier {

  /** Hashed-feature bucket count (weights dimension). */
  val D = 32

  /** Weak label: not-repetitive AND lexically diverse — the same
    * signals q_repetition / q_text_stats gate, thresholded near their
    * corpus medians so both classes are populated.
    */
  def weakLabel(text: Column): Column =
    (TextStats.dupNgramCharFrac(text, 2) <= 0.15 &&
      TextStats.uniqueTokenRatio(text) >= 0.45).cast("double")

  /** The house md5 bucket as a Column (train-side; score-side uses the
    * same arithmetic inside [[HashedLinearScore]]).
    */
  def bucketExpr(tok: Column, d: Int = D): Column =
    (conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % d).cast("int")

  /** D-bucket token-count features per document (train-side only).
    *
    * Two-stage: the token stream first partial-aggregates to
    * (doc, bucket) counts — ≤ D rows per doc cross the shuffle — and
    * the D-way widening (a D-branch when-chain) runs on that small
    * frame, not on every token. At D=256 the one-stage form evaluated
    * 256 conditionals per TOKEN and was the dominant cost of the
    * langid gate (≈4× slower at sf0.1).
    */
  def hashedFeatures(docs: DataFrame, textCol: String, idCol: String,
      d: Int = D): DataFrame = {
    val cnt = graft.core.FanOut.byKey(docs, idCol)
      .select(col(idCol), explode(split(col(textCol), " ")).as("__t"))
      .groupBy(col(idCol), bucketExpr(col("__t"), d).as("__b"))
      .agg(count(lit(1)).cast("double").as("__c"))
    cnt.groupBy(col(idCol))
      .agg(sum(when(col("__b") === 0, col("__c")).otherwise(0.0)).as("f0"),
        (1 until d).map(j =>
          sum(when(col("__b") === j, col("__c")).otherwise(0.0)).as(s"f$j")): _*)
  }

  /** Train on the corpus (deterministic given the dir): weak labels +
    * hashed counts → L2 logistic via the existing GLM surface. Returns
    * (weights, intercept).
    */
  def train(docs: DataFrame, textCol: String, idCol: String,
      d: Int = D): (Array[Double], Double) = {
    val labeled = docs.select(col(idCol), col(textCol),
      weakLabel(col(textCol)).as("label"))
    val data = hashedFeatures(labeled, textCol, idCol, d)
      .join(labeled.select(col(idCol), col("label")), Seq(idCol))
    val m = new graft.linear.LogisticRegression(
      (0 until d).map(j => s"f$j"), "label").fit(data)
    (m.coef, m.intercept)
  }

  /** Per-dir trained model memo (trainedPqCodebooks pattern): weights
    * are a deterministic function of the dir, embeddable as oracle
    * VALUES at SQL-generation time.
    */
  val trained = Memos.memo { (s, dir) =>
    train(Tables.documents(s, dir), "text", "doc_id")
  }

  /** Margin column (w·x + b) — scan-fused, weights in-plan. */
  def marginExpr(text: Column, weights: Array[Double], intercept: Double): Column =
    HashedLinearScore(text, weights.toIndexedSeq, intercept)

  /** Calibrated probability sigmoid(margin). */
  def scoreExpr(text: Column, weights: Array[Double], intercept: Double): Column =
    lit(1.0) / (lit(1.0) + exp(marginExpr(text, weights, intercept) * lit(-1.0)))

  /** DuckDB CTE fragment `qm(doc_id, margin)` mirroring the scorer:
    * weights as VALUES, the same md5 bucket, margin = b + Σ w[bucket].
    */
  def marginCteSql(weights: Array[Double], intercept: Double,
      srcTable: String = "documents", d: Int = D): String = {
    val vals = weights.zipWithIndex
      .map { case (w, j) => s"($j,CAST($w AS DOUBLE))" }.mkString(",")
    s"""qw(b, wt) AS (SELECT * FROM (VALUES $vals)),
       |qtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |         FROM $srcTable),
       |qtb AS (SELECT doc_id,
       |          ('0x' || substr(md5(t), 1, 15))::BIGINT % $d AS b
       |        FROM qtok),
       |qm AS (SELECT doc_id,
       |         CAST($intercept AS DOUBLE) + sum(qw.wt) AS margin
       |       FROM qtb JOIN qw USING (b) GROUP BY doc_id)""".stripMargin
  }
}
