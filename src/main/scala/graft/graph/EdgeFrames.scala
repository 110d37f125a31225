package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ONE symmetrized edge frame the whole graph family shares, and
  * the one node-set builder every edge-frame operator starts from.
  *
  * Every algorithm here (coreness, LPA, modularity, triangles) consumes
  * the same co-occurrence pair list, and before round 10 each one
  * re-built and re-persisted its own symmetrized copy — at gate scale
  * that re-paid the corpus-sized pair join four times per bench pass.
  * [[symmetrizedWeighted]] is the common denominator:
  *
  *  - columns (__s, __t, __w): both orientations of every undirected
  *    edge, self-loops dropped, input-row multiplicity aggregated into
  *    the integer weight, (__s, __t) unique by construction;
  *  - LPA/modularity consume it as-is (weighted);
  *  - coreness projects the distinct pair set (__s, __t);
  *  - triangles take the canonical half (__s < __t) and read degrees
  *    straight off the per-__s row counts.
  *
  * Callers that serve several gates should persist the result once
  * (via [[graft.core.Memos.persist]], usually inside a
  * [[graft.core.Memos.Memo]]).
  */
object EdgeFrames {

  /** @param pairs undirected edge list, columns `id_a`, `id_b`
    *   (integral); duplicate rows are multiplicity (becomes `__w`),
    *   self-loops are dropped.
    */
  def symmetrizedWeighted(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").cast("long").as("__s"),
        col("id_b").cast("long").as("__t"))
      .union(pairs.select(col("id_b").cast("long").as("__s"),
        col("id_a").cast("long").as("__t")))
      .filter(col("__s") =!= col("__t"))
      .groupBy("__s", "__t")
      .agg(count(lit(1)).as("__w"))

  /** The node set of an edge frame (`__s`, `__t`): every id on either
    * end, once, as the one column `__n`. */
  def nodes(e: DataFrame): DataFrame =
    e.select(col("__s").as("__n"))
      .union(e.select(col("__t").as("__n"))).distinct()
}
