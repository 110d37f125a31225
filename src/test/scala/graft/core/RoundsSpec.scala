package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.{DeltaStepping, EdgeFrames, HyperBall}

class RoundsSpec extends SparkSpec {
  import spark.implicits._

  /** Ids of the RDDs that hold blocks now. */
  private def held(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def checkpointId(df: DataFrame): Int =
    df.queryExecution.analyzed match { case r: LogicalRDD => r.rdd.id }

  test("iterate holds only the returned state's checkpoint") {
    val before = held()
    val init = Rounds.materialize(spark.range(0, 100).toDF("x"))
    val out =
      Rounds.iterate(init, 4)((s, r) => s.select((col("x") + r).as("x")))
    assert(held() -- before == Set(checkpointId(out)))
    // 0 + … + 99, plus (1 + 2 + 3 + 4) on each of the 100 rows
    assert(out.agg(sum("x")).head().getLong(0) == 4950L + 100L * 10)
    Rounds.release(out)
  }

  test("stop ends early; the result equals the fixed-round one") {
    var steps = 0
    def halve(s: DataFrame, r: Int): DataFrame = {
      steps += 1
      s.select(col("id"), (col("x") / 2).cast("long").as("x"))
    }
    val init = spark.range(0, 64).select(col("id"), col("id").as("x"))
    val fixed = Rounds.iterate(init, 20)(halve)
    assert(steps == 20)
    steps = 0
    val stopped = Rounds.iterate(init, 20,
      Rounds.unchanged(init)(_.agg(sum("x")).head().getLong(0)))(halve)
    // 63 reaches 0 after six halvings; the seventh round changes nothing
    assert(steps == 7)
    assert(stopped.collect().toSet == fixed.collect().toSet)
    assert(stopped.where(col("x") =!= 0L).isEmpty)
  }

  test("release frees a checkpoint, not a projection or a persisted frame") {
    val start = held()
    val ck = Rounds.materialize(spark.range(0, 50).toDF("x"))
    val persisted = Memos.persist(spark.range(0, 50).toDF("y"))
    persisted.count()
    val made = held() -- start
    assert(made.size == 2 && made.contains(checkpointId(ck)))
    Rounds.release(ck.select((col("x") * 2).as("x2")))
    Rounds.release(persisted)
    assert(held() -- start == made)
    assert(ck.count() == 50L && persisted.count() == 50L)
    Rounds.release(ck)
    assert(held() -- start == made - checkpointId(ck))
    persisted.unpersist(blocking = true)
  }

  test("neighborhoodFunction, shortestPathsMulti keep at most one checkpoint") {
    val path = (0L until 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val sym = EdgeFrames.symmetrizedWeighted(path.toDF("id_a", "id_b"))
    val beforeNf = held()
    val nf = HyperBall.neighborhoodFunction(sym, rounds = 4)
    assert((held() -- beforeNf).size <= 1)
    assert(nf.count() == 5L)

    val edges = Seq((0L, 1L, 3L), (1L, 2L, 40L), (0L, 2L, 50L), (2L, 3L, 2L),
      (3L, 4L, 7L), (1L, 4L, 90L)).toDF("src", "dst", "len")
    val beforeSp = held()
    val dist = DeltaStepping.shortestPathsMulti(edges, "src", "dst", "len",
      Seq(0L, 2L).toDF("seed"), delta = 4L)
    assert((held() -- beforeSp).size <= 1)
    val got = dist.where(col("seed") === 0L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 0L, 1L -> 3L, 2L -> 43L, 3L -> 45L, 4L -> 52L))
  }
}
