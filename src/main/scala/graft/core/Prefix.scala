package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.graft.ExpressionBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-safe GLOBAL cumulative sums as a two-pass partition carry
  * (guide §2): an unpartitioned `Window.orderBy` moves the whole frame
  * to ONE partition, a single-task sort for row-scale inputs (distinct
  * scores, distinct event times, vocab weights). Here every partition
  * scans its own rows and carries the totals of the partitions before
  * it.
  *
  * Layout: the input plus one `__pv<i>` column per addend (cast to
  * `long` when integral) is range-partitioned by `order` into
  * `defaultParallelism` partitions and sorted within each. Both passes
  * read ONE RDD of that plan's Catalyst rows, so they read the same
  * range-shuffle output and see the same row→partition layout; nothing
  * is checkpointed or persisted, and no row is converted to or from an
  * external `Row`.
  *  1. totals: one `Array[Long]` per partition, collected; the driver
  *     scans the ≤ #partitions totals into exclusive offsets;
  *  2. carry: each partition folds its rows into a `Long` per sum,
  *     seeded with its offset, and emits the inclusive or strict value.
  *
  * EXACTNESS CONTRACT: an addend is integral, or a double that is an
  * exact integer with |v| ≤ 2^53 (counts cast to double); a null addend
  * counts as 0, as `sum` does. Any other addend type is rejected up
  * front and any other double value fails the job, both naming the sum.
  * Every partial sum is then an exact `Long`, so the result is the
  * sequential fold's value under any partitioning. A sum column is
  * `LongType` for integral addends and `DoubleType` for double ones,
  * the type `sum` gives.
  *
  * Order keys must be UNIQUE per row (call sites pass groupBy outputs
  * keyed by the order column), so the within-partition order is
  * deterministic.
  *
  * Reserved columns: `__pid`, `__pv<i>`, `__pt<i>` and `__po<i>` are
  * the helper's own; an input carrying one is rejected.
  */
object Prefix {

  /** Append global running-sum columns over `df` ordered by `order`.
    *
    * @param df     input frame; order keys unique per row
    * @param order  global ordering (e.g. `Seq(col("s"))`, descending
    *               via `col("s").desc`)
    * @param sums   (addend, outputName, inclusive): inclusive=true sums
    *               up to and including the row, false stops before it
    *               (strict prefix; 0 for the first row)
    */
  def cumSums(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String, Boolean)]): DataFrame = {
    require(sums.nonEmpty, "Prefix.cumSums needs at least one sum")
    val reserved = "__pid|__p[vto][0-9]+".r
    df.columns.foreach(c => require(!reserved.matches(c),
      s"Prefix.cumSums: input column $c is reserved"))
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    val (w, k) = (df.columns.length, sums.length)
    val types = df.select(sums.map(_._1): _*).schema.map(_.dataType)
    val integral = types.indices.map(i => types(i) match {
      case ByteType | ShortType | IntegerType | LongType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(
        s"Prefix.cumSums: sum ${sums(i)._2} has a ${t.simpleString} addend; " +
          "only integral and double addends are exact")
    }).toArray
    val addends = sums.indices.map(i => s"__pv$i")
    val sorted = df
      .select(col("*") +: sums.zipWithIndex.map { case ((c, _, _), i) =>
        (if (integral(i)) c.cast(LongType) else c).as(addends(i)) }: _*)
      .repartitionByRange(n, order: _*).sortWithinPartitions(order: _*)
    val labels = sums.map { case (c, name, _) => s"sum $name addend $c" }.toArray
    val inclusive = sums.map(_._3).toArray
    // Catalyst rows, read in place: no external Row round trip
    val rows = sorted.queryExecution.toRdd
    val totals = rows.mapPartitions { it =>
      val t = new Array[Long](k)
      it.foreach(r => for (i <- 0 until k)
        t(i) = Math.addExact(t(i), exact(r, w + i, integral(i), labels(i))))
      Iterator(t)
    }.collect()
    val offsets = totals.scanLeft(new Array[Long](k))((o, t) =>
      Array.tabulate(k)(i => Math.addExact(o(i), t(i))))
    val out = rows.mapPartitionsWithIndex { (p, it) =>
      val acc = offsets(p).clone()
      val tail = new GenericInternalRow(k)
      val row = new JoinedRow
      // each row is consumed before the next: `tail` and `row` are reused
      it.map { r =>
        for (i <- 0 until k) {
          val before = acc(i)
          acc(i) = Math.addExact(before, exact(r, w + i, integral(i), labels(i)))
          val v = if (inclusive(i)) acc(i) else before
          if (integral(i)) tail.setLong(i, v) else tail.setDouble(i, v.toDouble)
        }
        row(r, tail): InternalRow
      }
    }
    ExpressionBridge.internalDataFrame(spark, out, StructType(sorted.schema.fields ++
      sums.indices.map(i => StructField(sums(i)._2,
        if (integral(i)) LongType else DoubleType, nullable = false))))
      .drop(addends: _*)
  }

  /** Addend `c` of `r` as an exact `Long`: null is 0, a double must be
    * an integer with |v| ≤ 2^53. */
  private def exact(r: InternalRow, c: Int, integral: Boolean,
      label: String): Long =
    if (r.isNullAt(c)) 0L
    else if (integral) r.getLong(c)
    else {
      val d = r.getDouble(c)
      require(d == math.rint(d) && math.abs(d) <= (1L << 53).toDouble,
        s"Prefix.cumSums: $label = $d is not an integer-valued double " +
          "with |v| <= 2^53")
      d.toLong
    }
}
