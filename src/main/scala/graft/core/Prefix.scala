package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe GLOBAL cumulative sums (guide §2, r15 optimization
  * round): an unpartitioned `Window.orderBy` moves the whole frame to
  * ONE partition — fine for decile/threshold-sized aggregates, a
  * single-task corpus sort for row-scale inputs (distinct scores,
  * distinct event times, vocab weights). This helper computes the same
  * running sums with a two-pass range-partitioned plan:
  *
  *  1. range-repartition by the order key and pin the layout with ONE
  *     checkpoint (the per-row partition id must be STABLE across
  *     the two consumers below — a re-executed range exchange may
  *     sample different boundaries);
  *  2. per-partition totals (≤ #partitions rows) get their own running
  *     offsets through a window over that BOUNDED frame (partition
  *     count is a cluster property, not a data property);
  *  3. each row's global cumulative sum = its within-partition window
  *     sum (parallel across partitions) + its partition's offset
  *     (broadcast-joined back).
  *
  * EXACTNESS CONTRACT: the regrouped accumulation is bit-identical to
  * the sequential fold ONLY for order-insensitive addends — integral
  * types, or doubles that are exactly integer-valued (counts cast to
  * double), where IEEE addition below 2^53 is associative. Call sites
  * feed counts (longs / integer-valued doubles) exclusively; never
  * route arbitrary float sums through this (their sequential-fold
  * bits are what generated oracles replay).
  *
  * Order keys must be UNIQUE per row (call sites pass groupBy outputs
  * keyed by the order column), so ROWS/RANGE frame semantics coincide.
  *
  * Reserved columns: `__pid`, `__pv<i>`, `__pt<i>` and `__po<i>` are
  * the helper's own; an input carrying one is rejected (it would be
  * overwritten and then dropped).
  */
object Prefix {

  /** Append global running-sum columns over `df` ordered by `order`.
    *
    * @param df     input frame; order keys unique per row
    * @param order  global ordering (e.g. `Seq(col("s"))`, descending
    *               via `col("s").desc`)
    * @param sums   (addend, outputName, inclusive): inclusive=true is
    *               ROWS UNBOUNDED PRECEDING..CURRENT ROW, false stops
    *               at -1 (strict prefix; 0 for the first row)
    */
  def cumSums(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String, Boolean)]): DataFrame = {
    require(sums.nonEmpty, "Prefix.cumSums needs at least one sum")
    val reserved = "__pid|__p[vto][0-9]+".r
    df.columns.foreach(c => require(!reserved.matches(c),
      s"Prefix.cumSums: input column $c is reserved"))
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    // materialize the addends once so per-partition totals and the
    // within-partition window sum the IDENTICAL values
    val vals = sums.zipWithIndex.map { case ((c, _, _), i) =>
      c.as(s"__pv$i")
    }
    // materialize the input ONCE before range partitioning: the range
    // exchange SAMPLES its child, so feeding it the raw lineage would
    // execute the (often corpus-rooted) upstream plan twice — once for
    // the sample, once for the exchange (measured ~1 s per call on the
    // Mann–Whitney gate). After this checkpoint both passes read cached
    // partitions.
    val once = Rounds.materialize(df.select(col("*") +: vals: _*))
    // the range exchange is sampled; the second checkpoint pins
    // row→partition so the offsets branch and the window branch see
    // the same layout (a re-executed sampled exchange may pick
    // different boundaries). Only `marked` is read after this.
    val marked = Rounds.materialize(once
      .repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id()))
    Rounds.release(once)
    val offs = marked.groupBy("__pid")
      .agg(sums.indices.map(i => sum(col(s"__pv$i")).as(s"__pt$i")).head,
        sums.indices.map(i => sum(col(s"__pv$i")).as(s"__pt$i")).tail: _*)
    // running offsets over the ≤ #partitions frame: bounded by cluster
    // size, so the single-partition window here is legitimate
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums.indices.foldLeft(offs) { (d, i) =>
      d.withColumn(s"__po$i", coalesce(sum(col(s"__pt$i")).over(wOff), lit(0)))
    }.select(col("__pid") +: sums.indices.map(i => col(s"__po$i")): _*)
    val wLoc = Window.partitionBy("__pid").orderBy(order: _*)
    val out = sums.zipWithIndex.foldLeft(
        marked.join(broadcast(offsets), Seq("__pid"))) {
      case (d, ((_, name, inclusive), i)) =>
        val frame =
          if (inclusive) wLoc.rowsBetween(Window.unboundedPreceding, 0)
          else wLoc.rowsBetween(Window.unboundedPreceding, -1)
        d.withColumn(name,
          coalesce(sum(col(s"__pv$i")).over(frame), lit(0)) + col(s"__po$i"))
    }
    out.drop("__pid")
      .drop(sums.indices.map(i => s"__pv$i"): _*)
      .drop(sums.indices.map(i => s"__po$i"): _*)
  }
}
