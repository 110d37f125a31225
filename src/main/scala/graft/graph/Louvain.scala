package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{Memos, Rounds}

/** Full multi-level Louvain community detection (Blondel, Guillaume,
  * Lambiotte & Lefebvre 2008, "Fast unfolding of communities in large
  * networks"): repeat modularity-greedy refinement sweeps until no
  * node moves (phase 1), contract each community to a super-node
  * carrying its internal weight as a self-loop (phase 2), and recurse
  * on the contracted graph. [[LabelPropagation.louvainRefine]] is the
  * single-sweep polish; this is the production loop.
  *
  * Determinism (the distributed compromise, in the spirit of the
  * Sotera/DGA distributed Louvain's alternating schedule): the paper's
  * sequential node sweep is engine-order-dependent, so sweeps here are
  * SYNCHRONOUS with two guards that kill the classic two-node swap
  * oscillation:
  *
  *  - alternating direction — odd sweeps only allow moves to a
  *    community id SMALLER than the current one, even sweeps only
  *    LARGER (community labels are node ids, so the rule survives
  *    contraction). A simultaneous swap needs one "down" and one "up"
  *    move in the SAME sweep, so it is structurally impossible; any
  *    beneficial move blocked this sweep is eligible next sweep;
  *  - strict improvement — a node moves only if its best
  *    allowed-direction candidate scores STRICTLY higher than staying
  *    put (ties never churn).
  *
  * Phase 1 stops at the detected fixpoint: once two CONSECUTIVE sweeps
  * (one down + one up) move zero nodes, every further sweep is
  * provably a no-op (each direction's operator is deterministic and
  * just re-ran unchanged), so stopping early is exact — the oracle
  * replays the full fixed sweep schedule and lands on the same state.
  *
  * Self-loops after contraction: the symmetrized frame keeps
  * inter-community edges only; per-node self weight (the community's
  * internal symmetrized weight, both directions counted) rides a
  * separate (node, weight) frame. It enters the degree k_i, the
  * community totals and 2m — but NOT k_{i,C}: in the gain comparison
  * the self-loop term is community-independent and cancels, exactly as
  * in the paper. The score per candidate community C for node i is
  *
  *   score(C) = 2m·k_{i,C} − k_i·(tot_C − k_i·[C = A])
  *
  * with every term an integer off the edge frame and the two count
  * products evaluated in DOUBLE (BIGINT×BIGINT wraps past 2^63 at
  * 100 TB edge counts; exact below 2^53). 2m is level-invariant
  * (contraction conserves total weight), so it is computed once.
  *
  * Scale shape per sweep: one edge-sized join (edges ⋈ labels on the
  * neighbor end), one (node, community) rollup with map-side partial
  * sums, argmax as ONE min-struct aggregate (no window, no per-node
  * sort), three node-sized joins, a broadcast 1-row 2m. Per level the
  * degree frame is computed once and persisted; contraction is one
  * two-sided label join + groupBy, and every level above the base is
  * community-sized. The only driver values are the per-sweep moved
  * counts (one scalar each — the KCore convergence convention).
  */
object Louvain {

  /** One guarded synchronous sweep.
    *
    * The per-node weighted degree __k (static within a level) RIDES the
    * labels frame (r14 optimization): the old form joined a separate
    * deg frame twice per sweep — once to build the community totals,
    * once into the scored candidates. With __k carried as a column,
    * `tot` is one groupBy over the node-sized label frame and `scored`
    * picks __k up from the same la join it already makes; the final
    * aggregate forwards __k (constant per node, min = the value) so the
    * next sweep needs no re-attach. Identical arithmetic, two fewer
    * node-sized joins per sweep.
    *
    * @param sym inter-community symmetrized edges (__s, __t, __w)
    * @param m2 broadcast 1-row total symmetrized weight (__m2)
    * @param labels current assignment (__n, __c, __k)
    * @param down odd sweeps move only toward smaller community ids;
    *   even sweeps only toward larger
    */
  private def sweep(sym: DataFrame, m2: DataFrame,
      labels: DataFrame, down: Boolean): DataFrame = {
    val la = labels.select(col("__n").as("__s"), col("__c").as("__cs"),
      col("__k"))
    val lb = labels.select(col("__n").as("__t"), col("__c").as("__ct"))
    val tot = la.groupBy(col("__cs").as("__c")).agg(sum("__k").as("__tot"))
    // i's weight into each neighbor community; the own community is
    // always a candidate (weight-0 row unioned in) so an isolated
    // super-node with only a self-loop still has a stay row
    val kic = sym.join(lb, Seq("__t"))
      .groupBy(col("__s"), col("__ct").as("__c"))
      .agg(sum("__w").as("__kic"))
    // stay row unioned WITHOUT re-aggregating (r14 optimization: the
    // old groupBy(__s, __c) re-shuffle per sweep merged the 0-weight
    // stay row into a kic row when i had edges into its own community
    // — but the un-merged duplicate is argmax-neutral: the 0-kic stay
    // row scores ≤ the true-kic stay row (score is increasing in
    // k_{i,C}) with the SAME community id, so neither __m, __stay
    // (a max), nor the tie-breaks can change; one fewer Exchange per
    // sweep)
    val cand = kic
      .unionByName(la.select(col("__s"), col("__cs").as("__c"),
        lit(0L).as("__kic")))
    val dirOk =
      if (down) col("__c") < col("__cs") else col("__c") > col("__cs")
    val scored = cand
      .join(la, Seq("__s"))
      .filter(col("__c") === col("__cs") || dirOk)
      .join(tot, Seq("__c"))
      .crossJoin(broadcast(m2))
      .select(col("__s"), col("__c"), col("__cs"), col("__k"),
        (col("__m2").cast("double") * col("__kic")
          - col("__k").cast("double") * (col("__tot")
            - when(col("__c") === col("__cs"), col("__k"))
              .otherwise(lit(0L)))).as("__score"))
    // best candidate (min-struct argmax, ties to the smallest
    // community id) and the stay score, fused in one aggregate pass;
    // the moved flag rides along so the fixpoint check is a filter on
    // this frame, not another node-sized join
    scored.groupBy("__s")
      .agg(min(struct((-col("__score")).as("ns"), col("__c").as("c")))
          .as("__m"),
        max(when(col("__c") === col("__cs"), col("__score")))
          .as("__stay"),
        min(col("__cs")).as("__cs"), // constant per __s; min = the value
        min(col("__k")).as("__k"))   // constant per __s; rides along
      .select(col("__s").as("__n"),
        when(-col("__m.ns") > col("__stay"), col("__m.c"))
          .otherwise(col("__cs")).as("__c"),
        col("__k"),
        (-col("__m.ns") > col("__stay")
          && col("__m.c") =!= col("__cs")).as("__moved"))
  }

  /** Phase 1 at one level: guarded sweeps to the detected fixpoint
    * (two consecutive zero-move sweeps) or the cap. Returns the final
    * (__n, __c). */
  private def phase1(sym: DataFrame, selfW: DataFrame, m2: DataFrame,
      nodes: DataFrame, maxSweeps: Int): DataFrame = {
    val symDeg = sym.groupBy("__s").agg(sum("__w").as("__kd"))
    val sw = selfW.select(col("__n").as("__s"), col("__sw").as("__swv"))
    // degree rides the labels frame across sweeps (see sweep doc) —
    // one build here, zero per-sweep deg joins
    val init = Rounds.materialize(nodes.select(col("__n").as("__s"))
      .join(symDeg, Seq("__s"), "left")
      .join(sw, Seq("__s"), "left")
      .select(col("__s").as("__n"), col("__s").as("__c"),
        (coalesce(col("__kd"), lit(0L))
          + coalesce(col("__swv"), lit(0L))).as("__k")))
    var zeroRun = 0
    def fixpoint(prev: DataFrame, next: DataFrame): Boolean = {
      val moved = next.filter(col("__moved")).count()
      zeroRun = if (moved == 0L) zeroRun + 1 else 0
      zeroRun == 2
    }
    Rounds.iterate(init, maxSweeps, fixpoint) { (labels, t) =>
      sweep(sym, m2, labels.select(col("__n"), col("__c"), col("__k")),
        down = t % 2 == 1)
    }.select(col("__n"), col("__c"))
  }

  /** Full Louvain over a shared [[EdgeFrames.symmetrizedWeighted]]
    * frame.
    *
    * @param maxSweeps phase-1 sweep cap per level (the fixed schedule
    *   the oracle replays; the engine stops early at the detected
    *   fixpoint, which is exact — see the class doc)
    * @param levels contraction levels (2 = one contraction + refine)
    * @return (id, community) for every ORIGINAL node; community ids
    *   are node ids of the top level's representatives
    */
  def louvainOn(sym0: DataFrame, maxSweeps: Int = 4,
      levels: Int = 2): DataFrame = {
    require(maxSweeps >= 1 && levels >= 1,
      s"need maxSweeps >= 1 and levels >= 1, got $maxSweeps, $levels")
    // the scores are exact integer arithmetic only over integer weights
    val wType = sym0.schema("__w").dataType
    require(wType == LongType,
      s"louvainOn needs a bigint weight column __w, got ${wType.sql}")
    val spark = sym0.sparkSession
    import spark.implicits._
    // 2m is level-invariant: contraction moves weight between the
    // edge frame and the self-loop frame but conserves the total.
    // Collected ONCE into a literal frame (r15): the old broadcast of
    // the live aggregate re-ran an edge-frame aggregate + broadcast
    // build inside EVERY sweep's plan — ~12 redundant jobs per query
    // for one immutable long.
    val m2r = sym0.agg(sum("__w")).head()
    val m2v = if (m2r.isNullAt(0)) 0L else m2r.getLong(0)
    val m2 = broadcast(Seq(m2v).toDF("__m2"))
    var sym = sym0
    var selfW = Seq.empty[(Long, Long)].toDF("__n", "__sw")
    var nodes = sym0.select(col("__s").as("__n")).distinct()
    // composed assignment: original id -> current-level community
    var assign: DataFrame = null
    for (level <- 1 to levels) {
      val lab = phase1(sym, selfW, m2, nodes, maxSweeps)
      val prev = assign
      assign = Rounds.materialize(
        if (prev == null) lab.select(col("__n").as("id"),
          col("__c").as("community"))
        else prev.join(lab, prev("community") === lab("__n"))
          .select(col("id"), col("__c").as("community")))
      if (prev != null) Rounds.release(prev)
      if (level < levels) {
        // phase 2: contract. Inter-community edges keep the
        // symmetrized convention; internal weight (both directions)
        // plus carried self weight becomes the super-node's self-loop
        val la = lab.select(col("__n").as("__s"), col("__c").as("__cs"))
        val lb = lab.select(col("__n").as("__t"), col("__c").as("__ct"))
        // ONE (cs, ct) rollup serves both contraction outputs (r15):
        // `joined` used to feed two separate groupBys (inter-community
        // edges, internal weight) — two executions of the edge-sized
        // two-label join, since plans share no common subtrees. The
        // rollup is persisted; the super-edge frame and the internal
        // self-weight are filters over its community²-bounded rows.
        // Identical sums: partitioning the rollup by (cs, ct) before
        // the = / ≠ split groups exactly the same integer addends.
        val contracted = Memos.persist(sym.join(la, Seq("__s"))
          .join(lb, Seq("__t"))
          .groupBy(col("__cs"), col("__ct"))
          .agg(sum("__w").as("__w")))
        sym = contracted.filter(col("__cs") =!= col("__ct"))
          .select(col("__cs").as("__s"), col("__ct").as("__t"), col("__w"))
        val internal = contracted.filter(col("__cs") === col("__ct"))
          .select(col("__cs").as("__n"), col("__w").as("__sw"))
        val carried = selfW.join(lab, "__n")
          .groupBy(col("__c").as("__n")).agg(sum("__sw").as("__sw"))
        selfW = Memos.persist(internal.unionByName(carried)
          .groupBy("__n").agg(sum("__sw").as("__sw")))
        nodes = Rounds.materialize(lab.select(col("__c").as("__n")).distinct())
      }
    }
    assign
  }
}
