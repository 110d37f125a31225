package graft.core

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.SparkSpec

class PrefixSpec extends SparkSpec {
  import spark.implicits._

  test("an input column reserved for the helper is rejected, by name") {
    for (c <- Seq("__pid", "__pv0", "__pt3", "__po12")) {
      val df = Seq((1L, 2L, 7L), (2L, 3L, 8L)).toDF("k", "x", c)
      val e = intercept[IllegalArgumentException](
        Prefix.cumSums(df, Seq(col("k")), Seq((col("x"), "cx", true))))
      assert(e.getMessage.contains(c))
    }
  }

  test("cumSums equals a sequential fold, inclusive and strict") {
    val rnd = new Random(11)
    val rows = rnd.shuffle((1 to 200).toList)
      .map(k => (k.toLong, rnd.nextInt(50).toLong, rnd.nextInt(9).toDouble))
    val df = rows.toDF("k", "a", "b")
    for (desc <- Seq(false, true)) {
      val got = Prefix.cumSums(df,
          Seq(if (desc) col("k").desc else col("k")),
          Seq((col("a"), "inc_a", true), (col("a"), "str_a", false),
            (col("b"), "inc_b", true), (col("b"), "str_b", false)))
        .select("k", "inc_a", "str_a", "inc_b", "str_b").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      val ordered = if (desc) rows.sortBy(-_._1) else rows.sortBy(_._1)
      var (sa, sb) = (0L, 0.0)
      val want = ordered.map { case (k, a, b) =>
        val strict = (sa, sb)
        sa += a; sb += b
        k -> ((sa, strict._1, sb, strict._2))
      }.toMap
      assert(got == want, s"desc = $desc")
    }
  }

  test("fewer rows than partitions, with null addends counted as 0") {
    // three rows over defaultParallelism (4 under local[4]) partitions
    val df = Seq[(Long, Option[Long])]((3L, Some(5L)), (1L, None), (2L, Some(4L)))
      .toDF("k", "x")
    val got = Prefix.cumSums(df, Seq(col("k")),
        Seq((col("x"), "inc", true), (col("x"), "str", false)))
      .select("k", "inc", "str").as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0L, 0L), (2L, 4L, 0L), (3L, 9L, 4L)))
  }

  test("a sum is LongType for integral addends and DoubleType for doubles") {
    val df = Seq((1L, 2, 3L, 4.0), (2L, 5, 6L, 7.0)).toDF("k", "i", "l", "d")
    val out = Prefix.cumSums(df, Seq(col("k")),
      Seq((col("i"), "ci", true), (col("l"), "cl", false),
        (col("d"), "cd", true)))
    assert(out.columns.toSeq == Seq("k", "i", "l", "d", "ci", "cl", "cd"))
    assert(Seq("ci", "cl", "cd").map(out.schema(_).dataType) ==
      Seq(LongType, LongType, DoubleType))
    val got = out.select("k", "ci", "cl", "cd")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, 0L, 4.0), (2L, 7L, 3L, 11.0)))
  }

  test("a non-integer double addend fails, naming the sum and the value") {
    val df = Seq((1L, 1.0), (2L, 0.5)).toDF("k", "x")
    val e = intercept[Exception](
      Prefix.cumSums(df, Seq(col("k")), Seq((col("x"), "cx", true))))
    assert(e.getMessage.contains("sum cx addend x = 0.5"), e.getMessage)
  }

  test("a string addend is rejected, naming the sum") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "x")
    val e = intercept[IllegalArgumentException](
      Prefix.cumSums(df, Seq(col("k")), Seq((col("x"), "cx", true))))
    assert(e.getMessage.contains("sum cx has a string addend"), e.getMessage)
  }

  test("cumSums leaves no persisted RDD or stored block behind") {
    val sc = spark.sparkContext
    val df = (1 to 500).map(k => (k.toLong, (k % 7).toLong)).toDF("k", "x")
    val persisted = sc.getPersistentRDDs.keySet
    val stored = sc.getRDDStorageInfo.map(_.id).toSet
    val total = Prefix.cumSums(df, Seq(col("k").desc),
        Seq((col("x"), "cx", true)))
      .agg(max("cx")).head().getLong(0)
    assert(total == (1 to 500).map(_ % 7).sum)
    assert(sc.getPersistentRDDs.keySet == persisted)
    assert(sc.getRDDStorageInfo.map(_.id).toSet == stored)
  }
}
