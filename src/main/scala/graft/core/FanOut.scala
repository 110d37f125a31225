package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Input-split fan-out for compute-heavy per-row stages (guide §2.5
  * "input skew" / §6 input splits — r14 optimization round).
  *
  * The driver-generated test tables are single-file, SINGLE-ROW-GROUP
  * parquet, and a row group is the unit of scan parallelism — so every
  * scan-fused heavy projection (per-shingle MinHash digests, SimHash
  * votes, n-gram explodes, tokenizer corpus passes, classifier
  * featurization) ran on ONE core regardless of cluster size. Config
  * can't fix that (splits below a row group produce empty tasks);
  * the fix is a hash repartition by the row key AHEAD of the heavy
  * stage.
  *
  * Scale-adaptive by construction, not tuned for local mode: the
  * repartition fires ONLY when the frame's physical scan parallelism
  * is below the session's default parallelism — at 100 TB an input
  * arrives as thousands of row groups and this is a no-op (zero added
  * shuffle); on narrow inputs it costs one shuffle of the raw rows and
  * unlocks every core for the expensive stage.
  *
  * Determinism: hash partitioning by the caller's ROW KEY — a pure
  * function of the data, no rand(), no round-robin — so row-to-
  * partition assignment is retry-stable (SPARK-38388) and every row of
  * one key (e.g. all exploded tokens of one document) stays in one
  * partition, preserving per-key accumulation order for the per-doc
  * aggregates downstream. Call sites are restricted to pipelines whose
  * downstream corpus-level aggregates are order-exact (integers,
  * strings, min/max, per-key rollups, micro-unit sums).
  */
object FanOut {

  /** Decision memo keyed by (session, canonicalized plan): the probe
    * below costs a full analysis + physical-planning pass + RDD
    * conversion (r15 ADVICE finding — it ran on EVERY call, on hot
    * per-query paths), while the answer is a pure function of the
    * frame's source layout, which is immutable for the JVM session
    * (the [[Memos]] contract). Most call sites probe the same handful
    * of base-table scans, so the cache collapses ~30 planning passes
    * per bench pass into one per distinct frame. Entries are a few
    * bytes; never cleared (the decision stays valid as long as the
    * data does, and the key count is bounded by distinct call-site
    * frames).
    */
  private val decisions =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), Boolean]()

  /** Hash-repartition `df` by `keyCol` to the default parallelism iff
    * its current physical partitioning is less than half of it. */
  def byKey(df: DataFrame, keyCol: String): DataFrame = {
    // streaming frames pass through: .rdd is illegal on them, and
    // micro-batch parallelism is the source's concern, not the scan's
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    val key = (System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash().toLong)
    val low = decisions.computeIfAbsent(key,
      _ => df.rdd.getNumPartitions * 2 < p)
    if (low) df.repartition(p, col(keyCol))
    else df
  }

  /** [[Memos.persist]] + EAGERLY materialize a subframe consumed by
    * several plan branches (guide §5 caching; r14 profiling finding):
    * Spark does not dedup common subplans, and AQE runs sibling
    * branches as CONCURRENT stages — against a lazily-populated cache
    * each branch re-runs the shared scan/aggregation in parallel (2–8
    * duplicated equal-length jobs in the profiles). One eager pass
    * here, then every branch reads cached blocks. Callers pass bounded
    * frames (contingency cells, candidate pairs, per-dir memo builds),
    * never raw corpus rows.
    */
  def shared(df: DataFrame): DataFrame = {
    // streaming frames pass through (persist + count throw on them) —
    // the byKey guard, mirrored here (r15, ADVICE)
    if (df.isStreaming) return df
    val p = Memos.persist(df)
    p.count()
    p
  }
}
