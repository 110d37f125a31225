package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class MemosSpec extends SparkSpec {

  // storageLevel is the cache manager's entry for the frame's plan
  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a build runs once per dir and again after clearAll") {
    val builds = new AtomicInteger()
    val memo = Memos.memo { (s, dir) =>
      builds.incrementAndGet()
      Tables.region(s, dir).count()
    }
    val n = memo(spark, sfDir)
    assert(memo(spark, sfDir) == n)
    assert(builds.get == 1)
    assert(memo.values == List(n))
    Memos.clearAll()
    assert(memo.values.isEmpty)
    assert(memo(spark, sfDir) == n)
    assert(builds.get == 2)
  }

  test("a build may call another memo (the copurchase -> lpa shape)") {
    val edges = Memos.memo { (s, dir) =>
      val e = Memos.persist(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")))
      e.count()
      e
    }
    val labels = Memos.memo { (s, dir) =>
      val l = Memos.persist(edges(s, dir).groupBy("l_partkey").count())
      l.count()
      l
    }
    val got = labels(spark, sfDir)
    assert(got.count() ==
      Tables.lineitem(spark, sfDir).select("l_partkey").distinct().count())
    assert(edges(spark, sfDir) eq edges(spark, sfDir))
    assert(labels(spark, sfDir) eq got)
  }

  test("clearAll unpersists every frame persisted through Memos.persist") {
    val memo = Memos.memo { (s, dir) =>
      val f = Memos.persist(Tables.orders(s, dir).select("o_orderkey"))
      f.count()
      f
    }
    val frames = Seq(memo(spark, sfDir),
      Memos.persist(Tables.nation(spark, sfDir)),
      Memos.persist(Tables.customer(spark, sfDir).select("c_custkey")))
    assert(frames.forall(cached))
    Memos.clearAll()
    assert(!frames.exists(cached))
  }

  test("a hit after a table under the dir changed throws") {
    val dir = Files.createTempDirectory("memos-spec")
    try {
      Tables.names.foreach { t =>
        Files.copy(Paths.get(sfDir, s"$t.parquet"), dir.resolve(s"$t.parquet"))
      }
      val memo = Memos.memo((s, d) => Tables.region(s, d).count())
      val n = memo(spark, dir.toString)
      assert(memo(spark, dir.toString) == n) // unchanged: a plain hit
      // rewrite one table, as a multi-file directory of one row
      val one = spark.read.parquet(s"$sfDir/nation.parquet").limit(1)
      Files.delete(dir.resolve("nation.parquet"))
      one.write.parquet(dir.resolve("nation.parquet").toString)
      val e = intercept[IllegalStateException](memo(spark, dir.toString))
      assert(e.getMessage.contains(dir.toString))
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray.foreach(c =>
      deleteTree(c.asInstanceOf[Path]))
    Files.deleteIfExists(p)
  }
}
