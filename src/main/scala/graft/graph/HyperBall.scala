package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Hashing, Rounds}

/** HyperBall / ANF: the HyperLogLog neighborhood function (Boldi,
  * Rosa & Vigna, "HyperANF: approximating the neighbourhood function
  * of very large graphs on a budget", WWW'11; Palmer, Gibbons &
  * Faloutsos KDD'02 ANF) — per-node reachable-set growth b(v, r) and
  * the effective-diameter readout, the web-scale alternative to
  * all-pairs BFS.
  *
  * Each node carries its full 2^p-register HLL sketch PACKED into one
  * fixed-width `array<int>` column — ONE row per node, not one row per
  * (node, register). Round r max-merges each node's sketch with its
  * neighbors' round-(r−1) sketches:
  *
  *   R_r(v) = maxmerge(R_{r−1}(v), ∪_{(v,u)∈E} R_{r−1}(u))
  *
  * which by HLL idempotence IS the sketch of the exact r-hop ball
  * membership (spec'd against per-node BFS truth). Per round the
  * engine moves |E| + |V| array rows (≈ 4·2^p bytes each) through ONE
  * edge-keyed equi-join + ONE groupBy(node) whose 2^p per-register
  * `max` aggregates all combine map-side — never a pair frame, never
  * node² state, and (unlike a (node, register) row layout) never a
  * 2^p× row-count multiplier on the shuffle. The frame is materialized
  * per round ([[Rounds]]) so the k-round plan never re-executes prefix
  * rounds. That is the HyperBall cost model: at 100 TB, p stays
  * 4–6 and rounds stop at the effective diameter.
  *
  * Register indices, ranks, and the integer power-sum estimate are the
  * house h60 split ([[graft.relational.Sketches]] semantics, identical
  * integers) so the whole trajectory replays in DuckDB integer
  * arithmetic; the packed layout is a physical choice only.
  */
object HyperBall {

  /** Packed init: one row per node of `sym`, regs(i) = rank of the
    * node's own h60 draw if i is its register, else 0. h60-split
    * semantics match [[graft.relational.Sketches.hllGroupedRegisters]]
    * exactly.
    */
  private def packedInit(sym: DataFrame, p: Int, salt: String): DataFrame = {
    require(p >= 4 && p <= 16, s"p out of range: $p")
    val m = 1 << p
    val lowBits = 60 - p
    val maxRank = lowBits + 1
    val h = Hashing.h60(col("g"), salt)
    val low = h.bitwiseAND(lit((1L << lowBits) - 1))
    val rank = when(low === 0L, lit(maxRank))
      .otherwise(instr(lpad(bin(low), lowBits, "0"), "1")).cast("int")
    sym.select(col("__s").as("g")).distinct()
      .select(col("g"), shiftright(h, lowBits).cast("int").as("__reg"),
        rank.as("__rank"))
      .select(col("g"),
        expr(s"transform(sequence(0, ${m - 1}), i -> " +
          "IF(i = __reg, __rank, 0))").as("regs"))
  }

  /** Element-wise max-merge of packed sketches sharing a node key:
    * 2^p independent integer `max` aggregates (all map-side partial)
    * re-packed into the array. One node-keyed shuffle, |V| output rows.
    */
  private def maxMerge(df: DataFrame, m: Int): DataFrame = {
    val aggs = (0 until m).map(i =>
      max(element_at(col("regs"), i + 1)).as(s"__r$i"))
    df.groupBy("g").agg(aggs.head, aggs.tail: _*)
      .select(col("g"),
        array((0 until m).map(i => col(s"__r$i")): _*).as("regs"))
  }

  /** One HyperBall round: push sketches across edges, max-merge per
    * target node. */
  private def mergeRound(sym: DataFrame, regs: DataFrame, m: Int): DataFrame = {
    val via = sym.join(regs, col("__s") === col("g"))
      .select(col("__t").as("g"), col("regs"))
    maxMerge(regs.unionByName(via), m)
  }

  /** Per-node HLL estimates off a packed frame — the identical integer
    * power sum and small-range correction as
    * [[graft.relational.Sketches.hllGroupedEstimate]] (a zero entry
    * contributes 2^maxRank, exactly the zero-register term), so the
    * round-6 doubles are bit-identical to the row-per-register form.
    */
  private def packedEstimates(packed: DataFrame, p: Int): DataFrame = {
    val m = 1L << p
    val maxRank = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val nz = expr("aggregate(regs, 0, (a, x) -> a + IF(x > 0, 1, 0))")
    val isum = expr("aggregate(regs, CAST(0 AS BIGINT), (a, x) -> " +
      s"a + shiftleft(CAST(1 AS BIGINT), $maxRank - x))")
    packed
      .select(col("g"), (lit(m) - nz).as("zero_registers"),
        isum.as("__isum"))
      .select(col("g"), col("zero_registers"),
        round(lit(alpha) * lit(m.toDouble) * lit(m.toDouble)
          * pow(lit(2.0), lit(maxRank)) / col("__isum"), 6)
          .as("raw_estimate"))
      .select(col("g"), col("zero_registers"), col("raw_estimate"),
        round(when(col("raw_estimate") <= lit(2.5 * m)
            && col("zero_registers") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zero_registers")))
          .otherwise(col("raw_estimate")), 6).as("estimate"))
  }

  /** Unpacked (g, register, rank) view of a packed frame — spec/debug
    * surface matching the [[graft.relational.Sketches]] row layout
    * (absent registers dropped). */
  def unpack(packed: DataFrame): DataFrame =
    packed.select(col("g"), posexplode(col("regs")))
      .filter(col("col") > 0)
      .select(col("g"), col("pos").cast("long").as("register"),
        col("col").as("rank"))

  /** Per-round register frames R_0..R_rounds in the (g, register,
    * rank) row layout (unpacked from the packed engine state). R_0
    * sketches each node's own id.
    */
  def registerRounds(sym: DataFrame, rounds: Int, p: Int = 6,
      salt: String = "hb"): Seq[DataFrame] = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val m = 1 << p
    Seq.iterate(Rounds.materialize(packedInit(sym, p, salt)), rounds + 1)(
        regs => Rounds.materialize(mergeRound(sym, regs, m)))
      .map(unpack)
  }

  /** Neighborhood function N(r) = Σ_v |ball(v, r)|-estimate for
    * r = 0..rounds, with the growth fraction against N(rounds) and the
    * effective-diameter flag (smallest r with N(r) ≥ `effFrac`·N(rounds),
    * the standard 90%-effective-diameter readout). Per-node estimates
    * are the integer-power-sum form, rounded 6 before the sum; N, frac
    * round 6 — the whole trajectory replays as chained CTEs.
    *
    * @return (r, nf, frac, is_eff_diameter), rounds+1 rows
    */
  def neighborhoodFunction(sym: DataFrame, rounds: Int = 4, p: Int = 6,
      salt: String = "hb", effFrac: Double = 0.9): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val m = 1 << p
    // each round's scalar N(r) is collected as soon as the round exists,
    // so no packed frame outlives the loop; the collected values
    // re-enter the plan as literals
    def nfOf(packed: DataFrame): Double =
      packedEstimates(packed, p)
        .agg(round(sum("estimate"), 6).as("nf"))
        .head().getDouble(0)
    val init = Rounds.materialize(packedInit(sym, p, salt))
    val nfs = scala.collection.mutable.ArrayBuffer(nfOf(init))
    val last = Rounds.iterate(init, rounds,
        stop = (_, next) => { nfs += nfOf(next); false })(
      (regs, _) => mergeRound(sym, regs, m))
    Rounds.release(last)
    val all = nfs.toSeq.zipWithIndex
      .map { case (nf, i) => (i, nf) }.toDF("r", "nf")
    val fin = broadcast(all.filter(col("r") === rounds)
      .select(col("nf").as("__nff")))
    val frac = all.crossJoin(fin)
      .select(col("r"), col("nf"),
        round(col("nf") / col("__nff"), 6).as("frac"))
    val eff = broadcast(frac.filter(col("frac") >= effFrac)
      .agg(min("r").as("__re")))
    frac.crossJoin(eff)
      .select(col("r"), col("nf"), col("frac"),
        (col("r") === col("__re")).as("is_eff_diameter"))
  }

  /** Exact neighborhood function by iterated pair expansion — the BFS
    * ground truth the sketch is gated against. PAIR-FRAME SIZED
    * (≤ |V|·|ball|): only for bounded slices and specs, never the
    * scale path.
    */
  def exactNeighborhoodFunction(sym: DataFrame, rounds: Int): DataFrame = {
    val init = sym.select(col("__s")).distinct()
      .select(col("__s").as("__v"), col("__s").as("__u"))
    val reaches = Seq.iterate(Rounds.materialize(init), rounds + 1) { reach =>
      val via = reach.join(sym, col("__u") === col("__s"))
        .select(col("__v"), col("__t").as("__u"))
      Rounds.materialize(reach.unionByName(via).distinct())
    }
    reaches.zipWithIndex.map { case (reach, r) =>
      reach.agg(count(lit(1)).as("nf_true"))
        .select(lit(r).as("r"), col("nf_true"))
    }.reduce(_ unionByName _)
  }
}
