package graft.core

import scala.util.Random

import org.apache.spark.sql.functions._

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
}
