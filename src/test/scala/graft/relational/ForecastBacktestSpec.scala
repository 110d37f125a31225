package graft.relational

import java.sql.Timestamp

import graft.SparkSpec

class ForecastBacktestSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One event per (day, copy): day d gets y(d) events. */
  private def series(ys: Seq[Int]) = ys.zipWithIndex.flatMap {
    case (y, d) => (1 to y).map(c =>
      Timestamp.valueOf(f"2024-01-${d + 1}%02d 0${c % 10}:00:00"))
  }.toDF("ts")

  test("backtest cells match a hand fold of the Holt recursion") {
    // 10 days, horizon 3, 3 origins → origins o = 6, 7, 8
    val ys = Seq(5, 7, 6, 9, 8, 10, 9, 12, 11, 13)
    val got = Temporal.forecastBacktest(series(ys), "ts")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(got.size == 9)
    // independent fold for origin o (training 1..o−1)
    def fold(o: Int): (Double, Double) = {
      var level = ys(0).toDouble
      var trend = (ys(1) - ys(0)).toDouble
      for (j <- 2 to o - 1) {
        val nl = r6(0.3 * ys(j - 1) + 0.7 * (level + trend))
        trend = r6(0.1 * (nl - level) + 0.9 * trend)
        level = nl
      }
      (level, trend)
    }
    for (o <- Seq(6, 7, 8); h <- 1 to 3) {
      val (level, trend) = fold(o)
      val f = r6(level + h * trend)
      val a = ys(o + h - 2)
      val dNaive = r6((2 to o - 1).map(j =>
        math.abs(ys(j - 1) - ys(j - 2))).sum.toDouble / (o - 2))
      val originDay = f"2024-01-${o - 1}%02d"
      val cell = got((originDay, h))
      assert(cell._1 == f, s"o=$o h=$h forecast")
      assert(cell._2 == a.toLong, s"o=$o h=$h actual")
      assert(cell._3 ~== (r6(math.abs(f - a) / a), 1e-9), s"o=$o h=$h ape")
      assert(cell._4 ~== (r6(math.abs(f - a) / dNaive), 1e-9),
        s"o=$o h=$h ase")
    }
  }

  test("a perfectly linear series backtests with ~zero error") {
    val ys = (1 to 12).map(d => 10 + 2 * d) // exact linear trend
    val rows = Temporal.forecastBacktest(series(ys), "ts").collect()
    // Holt with exact-linear input: level+h·trend reproduces the line
    for (r <- rows) {
      assert(math.abs(r.getDouble(2) - r.getLong(3)) < 0.6,
        s"forecast ${r.getDouble(2)} vs actual ${r.getLong(3)}")
      assert(r.getDouble(5) < 0.3, s"ase ${r.getDouble(5)}")
    }
    // a constant series is linear too, but its naive MAE is 0: MASE is
    // undefined there, so ase is NULL
    val flat = Temporal.forecastBacktest(series(Seq.fill(12)(7)), "ts").collect()
    assert(flat.length == 9)
    for (r <- flat) {
      assert(r.getDouble(2) == r.getLong(3).toDouble,
        s"forecast ${r.getDouble(2)} vs actual ${r.getLong(3)}")
      assert(r.isNullAt(5), s"ase ${r.get(5)}")
    }
  }
}
