package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.graph.ConnectedComponents

/** Grid-cell DBSCAN — the density-based clustering shape that survives
  * 100 TB: exact DBSCAN needs an eps-ball neighbor join (quadratic
  * without an index); the grid formulation (the cell-based
  * approximation used by every distributed DBSCAN system, e.g.
  * He et al. MR-DBSCAN 2011) buckets points into eps-side cells with
  * ONE groupBy, calls a cell DENSE when it holds ≥ minPts points, and
  * clusters dense cells by 8-neighborhood connectivity — an edge-sized
  * CC problem over the CELL graph (≪ points), solved by the shared
  * [[ConnectedComponents.connectedComponents]]. Points label via their 3×3 cell
  * neighborhood (the border-point approximation: membership within one
  * cell ≈ within eps·√2); cells with no adjacent dense cell are noise.
  *
  * Everything is integer after the one floor(): cell coordinates,
  * counts, component labels (least cell id) — the gate replays in
  * DuckDB with the house recursive-CTE CC oracle. Callers should
  * quantize the coordinates (round 6) BEFORE clustering so the floor
  * can't fork engines at a cell boundary.
  */
object GridDbscan {

  private val Off = 1L << 20
  private val Span = 1L << 21

  /** Encode a cell coordinate pair as one long node id. The |c| < 2^20
    * precondition is ENFORCED, not just documented: a coordinate beyond
    * the range would silently alias distinct cells to one node id and
    * corrupt the component labels, so out-of-range cells raise instead
    * (the guard runs on the ≤|cells| dense frame, never per point). */
  def cellId(cx: Column, cy: Column): Column =
    (checked(cx) + lit(Off)) * lit(Span) + (checked(cy) + lit(Off))

  private def checked(c: Column): Column =
    when(abs(c) < lit(Off), c).otherwise(raise_error(concat(
      lit("GridDbscan.cellId: |cell coordinate| must be < 2^20 "
        + "(coordinate/eps out of supported range), got "),
      c.cast("string"))))

  /** @param pts (idCol, xCol, yCol) — coordinates already quantized
    * @return (id, cluster): cluster = least reachable dense-cell id,
    *   −1 for noise */
  def gridCluster(pts: DataFrame, idCol: String, xCol: String,
      yCol: String, eps: Double, minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 1)
    val offs = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val cells = pts.select(col(idCol).as("id"),
      floor(col(xCol) / eps).cast("long").as("cx"),
      floor(col(yCol) / eps).cast("long").as("cy"))
    val dense = cells.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
      .where(col("n") >= minPts)
      .withColumn("cell", cellId(col("cx"), col("cy")))
    // 8-neighborhood (plus self, so isolated dense cells keep a node)
    // as an EQUI-join: explode the 9 offsets, join back on the cell key
    def probe9(df: DataFrame, keepNames: Seq[String]): DataFrame =
      df.select(keepNames.map(col) :+
          explode(array(offs.map { case (dx, dy) =>
            struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
          }: _*)).as("__o"): _*)
        .select(keepNames.map(col) :+ col("__o.cx") :+ col("__o.cy"): _*)
    val edges = probe9(dense.select(col("cell").as("id_a"),
        col("cx"), col("cy")), Seq("id_a"))
      .join(dense.select(col("cx"), col("cy"), col("cell").as("id_b")),
        Seq("cx", "cy"))
      .select("id_a", "id_b")
    val comp = ConnectedComponents.connectedComponents(edges)
      .select(col("id").as("cell"), col("cluster"))
    val denseLabeled = dense.join(comp, Seq("cell"))
      .select(col("cx"), col("cy"), col("cluster"))
    // each point takes the least cluster among its 3×3 dense cells
    val labels = probe9(cells, Seq("id"))
      .join(denseLabeled, Seq("cx", "cy"))
      .groupBy("id").agg(min("cluster").as("cluster"))
    cells.select(col("id")).join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
