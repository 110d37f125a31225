package graft.graph

import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkSpec

class SeedDistanceSpec extends SparkSpec {
  import spark.implicits._

  private def dist(edges: Seq[(Long, Long)], seeds: Seq[Long],
      rounds: Int = 6): Map[Long, Option[Long]] =
    SeedDistance.hopDistance(edges.toDF("s", "t"), "s", "t",
        seeds.toDF("node"), rounds)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("path graph: hops count edges from the seed") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = dist(edges, Seq(1L))
    assert(got == Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(2L),
      4L -> Some(3L), 5L -> Some(4L)))
  }

  test("unreached component stays null; horizon truncates") {
    val edges = Seq((1L, 2L), (2L, 3L), (8L, 9L))
    assert(dist(edges, Seq(1L))(8L).isEmpty)
    assert(dist(edges, Seq(1L))(9L).isEmpty)
    // horizon 1: node 3 is 2 hops out → still null
    val short = dist(edges, Seq(1L), rounds = 1)
    assert(short(2L) == Some(1L) && short(3L).isEmpty)
  }

  test("multiple seeds take the nearest; direction is respected") {
    // directed chain 1→2→3→4; seed at both ends
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = dist(edges, Seq(1L, 4L))
    assert(got(2L) == Some(1L)) // only reachable from 1
    assert(got(3L) == Some(2L))
    assert(got(4L) == Some(0L)) // a seed, even with no in-path needed
    // nothing flows backwards from seed 4
    val fromEnd = dist(edges, Seq(4L))
    assert(fromEnd(1L).isEmpty && fromEnd(3L).isEmpty)
  }

  test("seeds absent from the graph are ignored; relaxation is idempotent") {
    val edges = Seq((1L, 2L), (2L, 1L))
    val got = dist(edges, Seq(1L, 99L))
    assert(got == Map(1L -> Some(0L), 2L -> Some(1L)))
    // extra rounds past the fixpoint change nothing
    assert(dist(edges, Seq(1L), rounds = 2) ==
      dist(edges, Seq(1L), rounds = 9))
  }

  test("hopDistance holds only the returned state's checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = SeedDistance.hopDistance(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 8L)).toDF("s", "t"), "s", "t",
      Seq(1L).toDF("node"), rounds = 3)
    val checkpoint = out.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.rdd.id
    }
    assert(checkpoint.isDefined)
    assert(sc.getPersistentRDDs.keySet.toSet -- before == checkpoint.toSet)
    assert(out.count() == 5L)
    checkpoint.foreach(sc.getPersistentRDDs(_).unpersist(blocking = false))
  }
}
