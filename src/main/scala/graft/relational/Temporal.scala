package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins and sessionization — the event-time operators a
  * large-scale pipeline needs beyond plain equi-joins (reference scope:
  * dask.dataframe's `merge_asof`/`map_overlap` family; semantics follow
  * pandas `merge_asof`, direction='backward').
  *
  * Scale design (100 TB north star):
  *
  *  - [[asofJoin]] never materializes a theta-join. Both sides are
  *    union-tagged and sorted ONCE per key partition; the match is a
  *    running `last(ignoreNulls)` window, so the cost is one shuffle on
  *    the key columns + a per-partition sort — the same movement a
  *    sort-merge join would pay, with no candidate-pair blowup. Spark has
  *    no native as-of; the naive alternative (range theta-join +
  *    row_number per left row) is a BroadcastNestedLoop/Cartesian at
  *    scale, which PlanRegressionSpec bans.
  *  - [[rangeJoinPairs]] turns the band predicate |l-r| <= tol into an
  *    equi-join on floor(ord/tol) buckets with a 3-bucket explode on the
  *    left (pigeonhole: a pair within tol differs by at most 1 bucket).
  *    Each surviving pair is produced exactly once (the three exploded
  *    buckets are distinct), then the exact band filter runs on the
  *    joined rows. Shuffle volume is 3×|L| + |R| keyed rows — never
  *    |L|×|R|. Hot buckets behave like any skewed equi-join key (AQE
  *    skew-join splits them).
  *  - [[sessionize]] is Spark's native `session_window` aggregate: one
  *    shuffle on the session keys, sessions merged per partition — the
  *    same operator Structured Streaming uses, so the batch gate and a
  *    streaming deployment share semantics (gap-based windows,
  *    session = [first event, last event + gap)).
  */
object Temporal {

  /** Backward as-of join: for each left row, attach the single right row
    * with the greatest `rightOrd` <= `leftOrd` (or < when
    * `allowExactMatches=false`) within the same `keys` group.
    *
    * Ordering columns are numeric in the same type family on both sides
    * (e.g. `unix_micros(ts)`), NOT truncated by the join, so fractional
    * ordinates keep their ordering and `tolerance` is expressible in the
    * caller's own units; convert timestamps before calling. Returns
    * every left row (left-outer semantics) with one struct column `asof`
    * holding the matched right row's `rightOrd` + `rightPayload` fields,
    * null when no prior right row exists or the match exceeds
    * `tolerance`. Right rows with a null key or null `rightOrd` never
    * match (pandas merge_asof drops null keys); left rows with null keys
    * are retained with `asof` null.
    *
    * Determinism: among right rows tied on (keys, rightOrd), the winner
    * is the LAST under `rightTiebreak` ascending (i.e. the max) —
    * pass the right side's unique id column(s) to pin ties; any
    * orderable types, compared in sequence.
    *
    * `direction` is "backward" (default) or "forward" (smallest
    * `rightOrd` >= `leftOrd`, pandas merge_asof direction='forward') —
    * forward runs the same one-shuffle plan on negated ordinates.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftOrd: String,
      rightOrd: String,
      rightPayload: Seq[String],
      allowExactMatches: Boolean = true,
      tolerance: Option[Long] = None,
      rightTiebreak: Seq[String] = Nil,
      direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val sign = if (direction == "forward") -1 else 1
    val leftCols = left.columns.toSeq
    // Tag order decides who wins at equal ord: right-before-left makes the
    // running last() include an equal-ord right row (inclusive <=);
    // left-before-right excludes it (strict <).
    val (rightTag, leftTag) = if (allowExactMatches) (0, 1) else (1, 0)
    val rStructType =
      right.select((rightOrd +: rightPayload).map(col): _*).schema
    // Multi-column tiebreaks ride one struct column (struct ordering is
    // field-by-field); a null struct on the left side is inert because
    // __tag already separates the sides at equal ord.
    val tbType = org.apache.spark.sql.types.StructType(
      right.select(rightTiebreak.map(col): _*).schema)
    val mkTb: Boolean => Column = isRight =>
      if (rightTiebreak.isEmpty) lit(null).cast("long").as("__tb")
      else if (isRight) struct(rightTiebreak.map(col): _*).as("__tb")
      else lit(null).cast(tbType).as("__tb")
    val lCols: Seq[Column] =
      struct(leftCols.map(col): _*).as("__l") +: keys.map(col) ++: Seq(
        (col(leftOrd) * sign).as("__ord"),
        col(leftOrd).as("__lord"),
        lit(leftTag).as("__tag"),
        mkTb(false),
        lit(null).cast(rStructType).as("__r"))
    val l = left.select(lCols: _*)
    val rCols: Seq[Column] =
      lit(null).cast(l.schema("__l").dataType).as("__l") +: keys.map(col) ++: Seq(
        (col(rightOrd) * sign).as("__ord"),
        lit(null).cast(l.schema("__lord").dataType).as("__lord"),
        lit(rightTag).as("__tag"),
        mkTb(true),
        struct((rightOrd +: rightPayload).map(col): _*).as("__r"))
    val r = right
      .filter((col(rightOrd) +: keys.map(col)).map(_.isNotNull).reduce(_ && _))
      .select(rCols: _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ord").asc, col("__tag").asc, col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__l").isNotNull)
    val withTol = tolerance match {
      case Some(t) =>
        // gap in the caller's units: backward = leftOrd − rightOrd,
        // forward = rightOrd − leftOrd; one sign flip covers both.
        matched.withColumn("__asof",
          when(col("__asof").isNotNull &&
            (col("__lord") - col("__asof")(rightOrd)) * sign <= t,
            col("__asof")))
      case None => matched
    }
    withTol.select(leftCols.map(c => col(s"__l.$c").as(c)) :+
      col("__asof").as("asof"): _*)
  }

  /** All (left, right) row pairs with |leftOrd - rightOrd| <= tol (and
    * equal `keys`, when given), via the bucketed equi-join above. Column
    * names must be disjoint across the two sides (rename before calling).
    */
  def rangeJoinPairs(
      left: DataFrame,
      right: DataFrame,
      leftOrd: String,
      rightOrd: String,
      tol: Long,
      keys: Seq[(String, String)] = Nil): DataFrame = {
    require(tol > 0, s"tolerance must be positive, got $tol")
    // floor-div buckets of width tol; a pair within tol spans <= 1 bucket
    // boundary, so probing {b-1, b, b+1} on one side is complete.
    val lb = left.withColumn("__b",
      explode(array(Seq(-1, 0, 1).map(d =>
        floorDiv(col(leftOrd), tol) + lit(d)): _*)))
    val rb = right.withColumn("__rb", floorDiv(col(rightOrd), tol))
    val joinCond = keys.map { case (lk, rk) => col(lk) === col(rk) }
      .foldLeft(col("__b") === col("__rb"))(_ && _)
    lb.join(rb, joinCond)
      .filter(abs(col(leftOrd) - col(rightOrd)) <= tol)
      .drop("__b", "__rb")
  }

  /** All (left, right) pairs of OVERLAPPING intervals —
    * lStart ≤ rEnd AND rStart ≤ lEnd (inclusive ends) — and equal
    * `keys` when given, as an equi-join: each interval explodes into
    * the width-`bucketWidth` buckets it covers, sides join on bucket
    * (+keys), and a pair is emitted ONLY in the bucket containing
    * max(lStart, rStart) — the first bucket where both are present —
    * so every pair surfaces exactly once with NO distinct/dedup
    * shuffle. The naive formulation is a theta-join (nested loop);
    * this is a shuffled equi-join with fan-out |interval|/bucketWidth
    * per row — pick bucketWidth near the p99 interval length so the
    * typical fan-out is 1-2. Column names must be disjoint.
    */
  def intervalOverlapPairs(
      left: DataFrame,
      right: DataFrame,
      lStart: String, lEnd: String,
      rStart: String, rEnd: String,
      bucketWidth: Long,
      keys: Seq[(String, String)] = Nil): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val lb = left.filter(col(lEnd) >= col(lStart))
      .withColumn("__lb", explode(sequence(
        floorDiv(col(lStart), bucketWidth), floorDiv(col(lEnd), bucketWidth))))
    val rb = right.filter(col(rEnd) >= col(rStart))
      .withColumn("__rb", explode(sequence(
        floorDiv(col(rStart), bucketWidth), floorDiv(col(rEnd), bucketWidth))))
    val joinCond = keys.map { case (lk, rk) => col(lk) === col(rk) }
      .foldLeft(col("__lb") === col("__rb"))(_ && _)
    lb.join(rb, joinCond)
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .filter(col("__lb") ===
        floorDiv(greatest(col(lStart), col(rStart)), bucketWidth))
      .drop("__lb", "__rb")
  }

  private def floorDiv(c: Column, d: Long): Column = {
    // pmod is non-negative, so subtracting it yields the floor multiple —
    // correct for negative ordinates too (epoch values before 1970,
    // deltas). Exact while |ord| < 2^53 (the quotient is a whole number
    // in double space) — micros until year ~2255.
    val cl = c.cast("long")
    ((cl - pmod(cl, lit(d))) / lit(d)).cast("long")
  }

  /** Gap-based sessionization over Spark's native `session_window`:
    * events on the same `keys` whose timestamps are within `gap` of the
    * previous event share a session. Output: keys + `session_start`
    * (first event ts), `session_last` (last event ts — i.e. window end
    * minus the gap) + the caller's aggregates.
    */
  def sessionize(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      gap: String,
      aggExprs: Seq[Column]): DataFrame = {
    require(aggExprs.nonEmpty, "sessionize needs at least one aggregate")
    df.groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_last",
        col("session_window.end") - expr(s"INTERVAL '$gap'"))
      .drop("session_window")
  }

  /** SCD2 history build (slowly-changing-dimension type 2): collapse a
    * per-key event stream into value VALIDITY INTERVALS — a new
    * interval opens whenever the tracked value differs from the key's
    * previous event, closes when the next interval opens (the last
    * interval per key stays open / null valid_to). The gaps-and-islands
    * change-flag form: lag-compare per key, running change count as
    * the segment id, one (key, segment) aggregate, and a lead over the
    * SEGMENT frame (|segments| rows, not events) for valid_to.
    * Windows are all PARTITIONED BY KEY — the operator's semantics;
    * nothing global. Ties at one timestamp break by `tiebreakCol`,
    * keeping both engines on one total order. Output: (keyCol,
    * valueCol, valid_from, valid_to, n_events).
    */
  def scd2History(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    val seg = df
      .withColumn("__chg",
        when(lag(col(valueCol), 1).over(w).isNull ||
          lag(col(valueCol), 1).over(w) =!= col(valueCol), 1).otherwise(0))
      .withColumn("__seg", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = seg.groupBy(col(keyCol), col("__seg"))
      .agg(min(col(valueCol)).as(valueCol), // constant within a segment
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val ws = Window.partitionBy(col(keyCol)).orderBy(col("__seg"))
    intervals
      .withColumn("valid_to", lead(col("valid_from"), 1).over(ws))
      .select(col(keyCol), col(valueCol), col("valid_from"),
        col("valid_to"), col("n_events"))
  }

  /** Hourly resample + forward fill per key (the pandas
    * `resample('H').last().ffill()` shape): every key gets a dense
    * hour grid over ITS OWN [min, max] span; each grid hour carries
    * the event count and the last observed value at-or-before that
    * hour (ties within an hour broken by (ts, tiebreak) descending —
    * a total order, so both engines pick the same row).
    *
    * Plan shape: one (key, hour) hash aggregate over the events
    * (map-side combined — the corpus never shuffles raw), a per-key
    * span aggregate whose `sequence()` explode generates the grid
    * (grid size = Σ spans, independent of event count), a left join
    * of grid against the hourly aggregate on (key, hour), and the
    * forward-fill window PARTITIONED BY KEY over grid rows — the
    * operator's own semantics, never a global sort. Output:
    * (keyCol, hour 'yyyy-MM-dd HH', n_events, value_ffill).
    *
    * Scale note (the one >1.3 SCALING exponent in the repo): cost is
    * linear in the OUTPUT grid Σ_key span-hours, which at 100 TB with
    * long-lived sparse keys dwarfs the event count. THE DEFAULT FOR
    * HIGH-CARDINALITY KEYS IS THE SPARSE PATH — [[scd2History]]
    * validity intervals + [[asofJoin]] at the probe instants, gated
    * end-to-end as q_resample_sparse (exact vs this dense grid sampled
    * at the same probes, Θ(probes·keys) output, SCALING exponent ≤ 1):
    * the interval form carries the same "value at any instant"
    * information in O(#changes) rows. Materialize the dense grid only
    * for bounded spans or downstream models that genuinely need
    * fixed-step series.
    */
  def resampleHourlyFfill(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tiebreakCol: String): DataFrame = {
    val hour = date_trunc("hour", col(tsCol))
    val hourly = df.groupBy(col(keyCol), hour.as("__hour"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col(valueCol),
          struct(col(tsCol), col(tiebreakCol))).as("__last"))
    val grid = df.groupBy(col(keyCol))
      .agg(min(hour).as("__h0"), max(hour).as("__h1"))
      .select(col(keyCol),
        explode(sequence(col("__h0"), col("__h1"),
          expr("interval 1 hour"))).as("__hour"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq(keyCol, "__hour"), "left")
      .select(col(keyCol),
        date_format(col("__hour"), "yyyy-MM-dd HH").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("__last"), ignoreNulls = true).over(w).as("value_ffill"))
  }

  /** First-order Markov transition matrix of a per-key event stream —
    * the behavioral-model readout next to sessionize/funnel: for every
    * ordered pair of consecutive events of one key, count the
    * (previous state, next state) transition and report the
    * row-conditional probability P(next | prev). The standard inputs
    * to churn models, anomaly detection on navigation flows, and
    * synthetic-session generators.
    *
    * Scale shape: ONE lag window PARTITIONED BY KEY over the event
    * stream (the operator's own semantics — never a global sort; ties
    * at one timestamp break by `tiebreakCol` so both engines walk one
    * total order), then a ≤|states|² aggregate and a per-prev rollup
    * rejoined broadcast-sized. Each key's FIRST event has no
    * predecessor and contributes no transition.
    *
    * @return (prev_state, next_state, n, p) with p rounded to 6,
    *   p summing to 1 per prev_state.
    */
  def transitionMatrix(df: DataFrame, keyCol: String, stateCol: String,
      tsCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    val trans = df
      .select(col(keyCol), col(stateCol).as("next_state"),
        lag(col(stateCol), 1).over(w).as("prev_state"))
      .filter(col("prev_state").isNotNull)
      .groupBy("prev_state", "next_state")
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("prev_state").agg(sum("n").as("__tot"))
    trans.join(broadcast(totals), Seq("prev_state"))
      .select(col("prev_state"), col("next_state"), col("n"),
        round(col("n") / col("__tot"), 6).as("p"))
  }

  /** Single change-point detection on a per-day count series — the
    * binary-segmentation base step (Scott & Knott 1974; the monitoring
    * primitive behind "when did the event volume shift"): the break b
    * minimizing two-segment SSE, equivalently maximizing
    * gain(b) = SSE_total − SSE(≤b) − SSE(>b), evaluated for EVERY
    * candidate day from integer prefix sums over the ≤|days| frame
    * (the Stump prefix pattern on the time axis — counts keep S and
    * Q = Σy² integral, so the scan replays exactly).
    *
    * Scale shape: ONE corpus aggregate to the daily frame; the
    * candidate scan is a self-join over ≤|days| rows. Gain rounded 6
    * before the argmax, ties to the earliest day.
    * @return one row: (break_day, n_before, n_after, mean_before,
    *   mean_after, gain)
    */
  /** Holt linear-trend (double) exponential smoothing over the per-day
    * count series (Holt 1957; the operational forecasting primitive
    * next to [[changePoint]]):
    *   level_t = α·y_t + (1−α)(level_{t−1} + trend_{t−1})
    *   trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
    * with level/trend QUANTIZED (round 6) at every step — the KM-curve
    * convention — so the recursion replays exactly in a recursive CTE.
    *
    * Scale shape: ONE corpus aggregate to the ≤|days| frame; the
    * sequential walk runs on the driver over that tiny frame (a
    * recursion over 30 rows is not distributed work). `fitted` is the
    * one-step-ahead forecast level_{t−1} + trend_{t−1} (null at t=1).
    * Init: level₁ = y₁, trend₁ = y₂ − y₁.
    */
  def holtSmoothing(df: DataFrame, tsCol: String, alpha: Double = 0.3,
      beta: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1)
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.groupBy(date_trunc("DAY", col(tsCol)).as("d"))
      .agg(count(lit(1)).as("y"))
      .orderBy("d")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    require(daily.length >= 2, "holtSmoothing needs at least 2 periods")
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val oneMinusA = 1.0 - alpha
    val oneMinusB = 1.0 - beta
    var level = r6(daily(0)._2.toDouble)
    var trend = r6((daily(1)._2 - daily(0)._2).toDouble)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val rows = daily.zipWithIndex.map { case ((d, y), i) =>
      val fitted: Option[Double] =
        if (i == 0) None else Some(r6(level + trend))
      if (i > 0) {
        val nl = r6(alpha * y + oneMinusA * (level + trend))
        trend = r6(beta * (nl - level) + oneMinusB * trend)
        level = nl
      }
      (fmt.format(d), y, level, trend, fitted)
    }
    rows.toSeq.toDF("day", "y", "level", "trend", "fitted")
  }

  /** Holt–Winters ADDITIVE triple exponential smoothing over the
    * per-day count series (Winters 1960) — [[holtSmoothing]] plus a
    * length-`period` seasonal wheel, the standard ops-forecasting
    * upgrade once the series has a weekly shape:
    *
    *   level_t = α(y_t − s_{t−p}) + (1−α)(level_{t−1} + trend_{t−1})
    *   trend_t = β(level_t − level_{t−1}) + (1−β)trend_{t−1}
    *   s_t     = γ(y_t − level_t) + (1−γ)s_{t−p}
    *
    * with every handoff QUANTIZED (round 6) so the recursion replays in
    * a recursive CTE that carries the p-slot wheel as p explicit
    * columns rotating one slot per step. Standard simple init over the
    * first two seasons: level_p = mean(y_1..y_p), trend_p =
    * (mean(y_{p+1}..y_{2p}) − mean(y_1..y_p))/p, s_i = y_i − level_p.
    *
    * Scale shape: ONE corpus aggregate to the ≤|days| frame; the
    * sequential walk runs on the driver over that tiny frame.
    * `fitted` is the one-step-ahead forecast level_{t−1} + trend_{t−1}
    * + s_{t−p}; rows start at t = period+1 (the first forecastable
    * step).
    */
  def holtWinters(df: DataFrame, tsCol: String, period: Int = 7,
      alpha: Double = 0.3, beta: Double = 0.1,
      gamma: Double = 0.2): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1)
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.groupBy(date_trunc("DAY", col(tsCol)).as("d"))
      .agg(count(lit(1)).as("y"))
      .orderBy("d")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    require(daily.length >= 2 * period,
      s"holtWinters needs at least 2*period=${2 * period} periods")
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mean1 = r6(daily.take(period).map(_._2).sum.toDouble / period)
    val mean2 = r6(daily.slice(period, 2 * period).map(_._2).sum.toDouble
      / period)
    var level = mean1
    var trend = r6((mean2 - mean1) / period)
    // wheel(0) is the NEXT seasonal to consume (s_{t−p})
    val wheel = scala.collection.mutable.Queue(
      daily.take(period).map { case (_, y) => r6(y - mean1) }: _*)
    val oneMinusA = 1.0 - alpha
    val oneMinusB = 1.0 - beta
    val oneMinusG = 1.0 - gamma
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val rows = daily.drop(period).map { case (d, y) =>
      val sOld = wheel.dequeue()
      val fitted = r6(level + trend + sOld)
      val nl = r6(alpha * (y - sOld) + oneMinusA * (level + trend))
      trend = r6(beta * (nl - level) + oneMinusB * trend)
      level = nl
      val sNew = r6(gamma * (y - level) + oneMinusG * sOld)
      wheel.enqueue(sNew)
      (fmt.format(d), y, fitted, level, trend, sNew)
    }
    rows.toSeq.toDF("day", "y", "fitted", "level", "trend", "seasonal")
  }

  /** Rolling-origin forecast backtest (Tashman, IJF 2000 — the
    * standard out-of-sample evaluation design) over the per-day count
    * series with the [[holtSmoothing]] model: for each of the last
    * `nOrigins` feasible origins o, fit on days 1..o−1 (the SAME
    * quantized recursion as holtSmoothing), forecast h = 1..horizon
    * ahead (ŷ = level + h·trend), and score each forecast with
    *
    *  - APE  |ŷ − y|/y (the MAPE cell), and
    *  - ASE  |ŷ − y| / MAE_naive(train) — the MASE cell (Hyndman &
    *    Koehler, IJF 2006): scaled by the in-sample one-step NAIVE
    *    error, so values < 1 beat "predict yesterday" and the metric
    *    survives zero-valued days where MAPE explodes. MASE is
    *    undefined when the naive MAE is 0 (a constant training
    *    series), so ASE is NULL there.
    *
    * Scale shape — the [[holtSmoothing]] posture: ONE corpus aggregate
    * to the ≤|days| frame; the per-origin folds are driver arithmetic
    * over that tiny frame. Every handoff (level, trend, naive MAE,
    * forecast, scores) is quantized round-6, so a recursive CTE
    * carrying (origin, j, level, trend) replays the whole grid.
    *
    * @return one row per (origin, h): (origin_day — last TRAINING day,
    *   h, forecast, actual, ape, ase)
    */
  def forecastBacktest(df: DataFrame, tsCol: String, alpha: Double = 0.3,
      beta: Double = 0.1, horizon: Int = 3,
      nOrigins: Int = 3): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1)
    require(horizon >= 1 && nOrigins >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.groupBy(date_trunc("DAY", col(tsCol)).as("d"))
      .agg(count(lit(1)).as("y"))
      .orderBy("d")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val dCount = daily.length
    require(dCount >= nOrigins + horizon + 2,
      s"need >= ${nOrigins + horizon + 2} days, got $dCount")
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    // origins: first forecast day index (1-based); training is 1..o−1
    val origins = (dCount - horizon - nOrigins + 2) to (dCount - horizon + 1)
    val rows = origins.flatMap { o =>
      var level = r6(daily(0)._2.toDouble)
      var trend = r6((daily(1)._2 - daily(0)._2).toDouble)
      for (j <- 2 to o - 1) {
        val yj = daily(j - 1)._2.toDouble
        val nl = r6(alpha * yj + (1.0 - alpha) * (level + trend))
        trend = r6(beta * (nl - level) + (1.0 - beta) * trend)
        level = nl
      }
      // in-sample one-step naive MAE over the training prefix
      val naiveSum = (2 to o - 1).map(j =>
        math.abs(daily(j - 1)._2 - daily(j - 2)._2)).sum
      val dNaive = r6(naiveSum.toDouble / (o - 2))
      (1 to horizon).map { h =>
        val f = r6(level + h * trend)
        val a = daily(o - 1 + h - 1)._2
        val err = math.abs(f - a.toDouble)
        (fmt.format(daily(o - 2)._1), h, f, a,
          r6(err / a.toDouble), Option.when(dNaive != 0)(r6(err / dNaive)))
      }
    }
    rows.toDF("origin_day", "h", "forecast", "actual", "ape", "ase")
  }

  /** Theil–Sen robust trend + Mann–Kendall monotonic-trend test over
    * the per-day count series (Theil 1950 / Sen 1968; Mann 1945,
    * Kendall 1975) — the outlier-proof replacement for an OLS slope on
    * operational metrics, with the distribution-free significance test
    * run alongside (the standard pairing in environmental/ops
    * monitoring):
    *
    *   slope = median{ (y_j − y_i)/(j − i) : i < j }
    *   intercept = median{ y_i − slope·i }
    *   S = Σ_{i<j} sign(y_j − y_i);  Var(S) tie-corrected;
    *   z = (S ∓ 1)/√Var(S)
    *
    * Scale shape: ONE corpus aggregate to the ≤|days| frame; the
    * pairwise slope join is over that tiny frame with the broadcast
    * side pinned (BNLJ, never a CartesianProduct at corpus scale).
    * Day index = row_number over day order (integer gaps — robust to
    * missing days as index steps, matching the oracle exactly).
    *
    * @return one row: (n_days, slope, intercept, s_stat, var_s, z)
    */
  def robustTrend(df: DataFrame, tsCol: String): DataFrame = {
    val daily = df.groupBy(date_trunc("DAY", col(tsCol)).as("d"))
      .agg(count(lit(1)).as("y"))
    // day index as a two-pass prefix rank (guide §2, r15): row_number
    // over an unpartitioned window single-partitions the per-day frame;
    // rank = exclusive running count + 1 computes the same integer
    // index range-partitioned (long addend, regrouping exact)
    val idx = graft.core.Prefix.cumSums(daily.withColumn("__one", lit(1L)),
        Seq(col("d")), Seq((col("__one"), "__i0", false)))
      .select((col("__i0") + 1L).as("i"), col("y"))
    val pairs = idx.alias("a").join(broadcast(idx.alias("b")),
        col("b.i") > col("a.i"))
      .select(col("a.i").as("i"), col("b.i").as("j"),
        col("a.y").as("yi"), col("b.y").as("yj"))
    val slopeF = pairs.agg(
      round(expr("percentile((yj - yi) / CAST(j - i AS DOUBLE), 0.5)"), 6)
        .as("slope"),
      sum(signum((col("yj") - col("yi")).cast("double")).cast("long"))
        .as("s_stat"))
    val n = daily.agg(count(lit(1)).as("n"))
    // tie correction: groups of equal y values
    val ties = daily.groupBy("y").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)),
        lit(0L)).as("tie_term"))
    val base = idx.crossJoin(broadcast(slopeF)).crossJoin(broadcast(n))
      .crossJoin(broadcast(ties))
    base.groupBy(col("n").as("n_days"), col("slope"), col("s_stat"),
        col("tie_term"))
      .agg(round(expr("percentile(y - slope * i, 0.5)"), 6).as("intercept"))
      .select(col("n_days"), col("slope"), col("intercept"), col("s_stat"),
        ((col("n_days") * (col("n_days") - 1)
          * (col("n_days") * 2 + 5) - col("tie_term")).cast("double")
          / 18.0).as("__var_raw"))
      // z divides by the UNROUNDED variance — identical provenance to
      // the oracle, which also rounds var_s only for display; dividing
      // by the rounded column would diverge when z's 6th decimal sits
      // on a rounding boundary
      .select(col("n_days"), col("slope"), col("intercept"), col("s_stat"),
        round(col("__var_raw"), 6).as("var_s"),
        round(when(col("s_stat") > 0,
            (col("s_stat") - 1) / sqrt(col("__var_raw")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1) / sqrt(col("__var_raw")))
          .otherwise(lit(0.0)), 6).as("z"))
  }

  /** Two-sided standardized CUSUM control chart over the per-day count
    * series (Page 1954) — the sequential drift detector ops pipelines
    * run next to [[changePoint]] (which finds ONE retrospective break;
    * CUSUM flags every day the cumulative drift exceeds the limit):
    *
    *   z_t = (y_t − μ)/σ          (μ, σ from the whole series)
    *   S⁺_t = max(0, S⁺_{t−1} + z_t − k)
    *   S⁻_t = max(0, S⁻_{t−1} − z_t − k)
    *   alarm_t = S⁺_t > h ∨ S⁻_t > h
    *
    * μ, σ, every z and both sums QUANTIZED (round 6) so the recursion
    * replays in a recursive CTE. Scale shape: one corpus aggregate to
    * the ≤|days| frame, driver walk over it.
    *
    * @param k allowance (slack) in σ units — drift below k/day is
    *   absorbed; @param h decision limit in σ units.
    */
  def cusumChart(df: DataFrame, tsCol: String, k: Double = 0.5,
      h: Double = 4.0): DataFrame = {
    require(k >= 0 && h > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.groupBy(date_trunc("DAY", col(tsCol)).as("d"))
      .agg(count(lit(1)).as("y"))
      .orderBy("d")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    require(daily.length >= 2, "cusumChart needs at least 2 periods")
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = daily.length
    val mu = r6(daily.map(_._2).sum.toDouble / n)
    // sample stddev off integer sums: sqrt((Σy² − (Σy)²/n)/(n−1))
    val sy = daily.map(_._2.toDouble).sum
    val syy = daily.map(y => y._2.toDouble * y._2).sum
    val sigma = r6(math.sqrt((syy - sy * sy / n) / (n - 1)))
    require(sigma > 0, "cusumChart needs a non-constant series")
    var sPlus = 0.0
    var sMinus = 0.0
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val rows = daily.map { case (d, y) =>
      val z = r6((y - mu) / sigma)
      sPlus = r6(math.max(0.0, sPlus + z - k))
      sMinus = r6(math.max(0.0, sMinus - z - k))
      (fmt.format(d), y, z, sPlus, sMinus, sPlus > h || sMinus > h)
    }
    rows.toSeq.toDF("day", "y", "z", "s_plus", "s_minus", "alarm")
  }

  def changePoint(df: DataFrame, tsCol: String): DataFrame = {
    val daily = df.groupBy(date_trunc("DAY", col(tsCol)).as("d"))
      .agg(count(lit(1)).as("y"))
    // non-equi prefix join over the ≤|days| frame: broadcast one side
    // so the plan is a BNLJ, never a CartesianProduct
    val pref = daily.alias("a").join(broadcast(daily.alias("b")),
        col("b.d") <= col("a.d"))
      .groupBy(col("a.d").as("d"))
      // squares accumulate in DOUBLE: y and the prefix sums are
      // BIGINTs that wrap silently past 2^63 at 100 TB event counts
      .agg(count(lit(1)).as("n1"), sum(col("b.y")).as("s1"),
        sum(col("b.y").cast("double") * col("b.y")).as("q1"))
    val tot = daily.agg(count(lit(1)).as("n"), sum("y").as("s"),
      sum(col("y").cast("double") * col("y")).as("q"))
    // null-guarded right-segment size (ANSI may evaluate the projection
    // on the filtered n1 = n row)
    val n2 = col("n") - col("n1")
    val n2s = when(n2 =!= 0L, n2)
    val sseTotal = col("q") - col("s").cast("double") * col("s") / col("n")
    val sseSplit =
      (col("q1") - col("s1").cast("double") * col("s1") / col("n1")) +
      ((col("q") - col("q1"))
        - (col("s") - col("s1")).cast("double")
          * (col("s") - col("s1")) / n2s)
    val cand = pref.join(broadcast(tot))
      .where(col("n1") < col("n"))
      .select(col("d"), col("n1"), n2.as("n2"),
        round(col("s1") / col("n1"), 6).as("mean_before"),
        round((col("s") - col("s1")) / n2s, 6).as("mean_after"),
        round(sseTotal - sseSplit, 6).as("gain"))
    cand.orderBy(col("gain").desc, col("d")).limit(1)
      .select(date_format(col("d"), "yyyy-MM-dd").as("break_day"),
        col("n1").as("n_before"), col("n2").as("n_after"),
        col("mean_before"), col("mean_after"), col("gain"))
  }
}
