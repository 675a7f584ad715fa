package graft

import graft.tsdb._
import org.apache.spark.sql.{DataFrame, Row}

/** Row shape used to build canonical point frames in tests. */
case class TP(metric: String, tags: Map[String, String], timestamp: Long,
    fields: Map[String, FV], seq: Long)
case class FV(d: Option[Double] = None, l: Option[Long] = None,
    s: Option[String] = None, b: Option[Boolean] = None)
object FV {
  def dv(v: Double): FV = FV(d = Some(v))
  def lv(v: Long): FV = FV(l = Some(v))
  def sv(v: String): FV = FV(s = Some(v))
  def bv(v: Boolean): FV = FV(b = Some(v))
}

/** Operator-semantics tests mirroring the reference's edge cases
  * (SURVEY §5 / §7.3): merge order, latest-version-wins, tombstone
  * shadowing, inclusive bounds, NaN/empty-window semantics, cursors. */
class TsdbQuerySpec extends SparkSpec {
  import spark.implicits._

  val M = 1000000L // ns per ms for readable literals
  def mkDf(rows: Seq[TP]): DataFrame = rows.toDF()

  // canonical single-value series fixture (FIXTURES A1)
  def series(host: String, n: Int, base: Long = 0L, step: Long = 60 * 1000 * M,
      v0: Double = 1.0, seq0: Long = 0): Seq[TP] =
    (0 until n).map { i =>
      TP("cpu.usage", Map("host" -> host), base + i * step,
        Map("value" -> FV.dv(v0 + i)), seq0 + i)
    }

  test("raw scan: inclusive bounds, tag filter, asc order") {
    val df = mkDf(series("h1", 5, base = 100, step = 10) ++ series("h2", 5, base = 100, step = 10))
    val out = QueryEngine.run(df, QueryParams("cpu.usage", Map("host" -> "h1"),
      startNs = 110, endNs = Some(130)))
    val rows = out.select("timestamp").as[Long].collect()
    assert(rows.toSeq == Seq(110L, 120L, 130L)) // both ends inclusive
  }

  test("raw scan: desc order over (ts, series)") {
    val df = mkDf(series("h1", 3, base = 0, step = 10) ++ series("h2", 3, base = 0, step = 10))
    val out = QueryEngine.run(df, QueryParams("cpu.usage", order = Descending,
      endNs = Some(1000)))
    val got = out.select($"timestamp", $"tags"("host")).as[(Long, String)].collect().toSeq
    assert(got == Seq((20L, "h2"), (20L, "h1"), (10L, "h2"), (10L, "h1"), (0L, "h2"), (0L, "h1")))
  }

  test("latest version wins on duplicate (series, ts) keys") {
    val df = mkDf(Seq(
      TP("m", Map("h" -> "a"), 10, Map("value" -> FV.dv(1.0)), seq = 1),
      TP("m", Map("h" -> "a"), 10, Map("value" -> FV.dv(9.0)), seq = 7),
      TP("m", Map("h" -> "a"), 20, Map("value" -> FV.dv(2.0)), seq = 2)))
    val out = QueryEngine.run(df, QueryParams("m", endNs = Some(100)))
    val got = out.select($"timestamp", $"fields"("value")("d")).as[(Long, Double)].collect().toMap
    assert(got == Map(10L -> 9.0, 20L -> 2.0))
  }

  test("tombstones: point, range, series + seq shadowing") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "a"), 10, Map("value" -> FV.dv(1.0)), seq = 1),
      TP("m", Map("h" -> "a"), 20, Map("value" -> FV.dv(2.0)), seq = 2),
      TP("m", Map("h" -> "a"), 30, Map("value" -> FV.dv(3.0)), seq = 3),
      TP("m", Map("h" -> "a"), 40, Map("value" -> FV.dv(4.0)), seq = 10), // written AFTER deletes
      TP("m", Map("h" -> "b"), 10, Map("value" -> FV.dv(5.0)), seq = 4)))
    val tombs = Seq(
      PointTombstone("m", Map("h" -> "a"), 10, seq = 5),
      RangeTombstone("m", Map("h" -> "a"), 20, 50, seq = 5), // hides 20,30 but NOT seq10@40
      SeriesTombstone("m", Map("h" -> "b"), seq = 5))
    val out = QueryEngine.run(pts, QueryParams("m", endNs = Some(100)), tombs)
    val got = out.select("timestamp").as[Long].collect().toSeq
    assert(got == Seq(40L))
  }

  test("final agg: full function set semantics") {
    val pts = mkDf(Seq(
      TP("m", Map(), 10, Map("v" -> FV.dv(10.0), "s" -> FV.sv("x")), 1),
      TP("m", Map(), 20, Map("v" -> FV.lv(20), "s" -> FV.sv("y")), 2), // int promoted
      TP("m", Map(), 30, Map("v" -> FV.dv(Double.NaN)), 3),            // NaN input skipped
      TP("m", Map(), 40, Map("v" -> FV.dv(60.0)), 4),
      TP("m", Map(), 50, Map("s" -> FV.sv("z")), 5)))                  // no numeric v
    val out = QueryEngine.run(pts, QueryParams("m", endNs = Some(100), aggs = Seq(
      AggSpec("count", "*"), AggSpec("count", "s"), AggSpec("count", "v"),
      AggSpec("sum", "v"), AggSpec("avg", "v"), AggSpec("min", "v"), AggSpec("max", "v"),
      AggSpec("first", "v"), AggSpec("last", "v"), AggSpec("frac", "v"),
      AggSpec("p50", "v", alias = Some("median_v")))))
    val r = out.collect()(0)
    assert(r.getAs[String]("metric") == "m")
    assert(r.getAs[Long]("count_star") == 5)
    assert(r.getAs[Long]("count_s") == 3)   // strings count (any-type non-null)
    assert(r.getAs[Long]("count_v") == 4)   // NaN row still non-null
    assert(r.getAs[Double]("sum_v") == 90.0)
    assert(r.getAs[Double]("avg_v") == 30.0)
    assert(r.getAs[Double]("min_v") == 10.0)
    assert(r.getAs[Double]("max_v") == 60.0)
    assert(r.getAs[Double]("first_v") == 10.0)
    assert(r.getAs[Double]("last_v") == 60.0)
    assert(r.getAs[Double]("frac_v") == 5.0) // (60-10)/10
    assert(r.getAs[Double]("median_v") == 20.0)
  }

  test("final agg: empty-set defaults (sum 0, count 0, rest NaN)") {
    val pts = mkDf(Seq(TP("m", Map(), 10, Map("other" -> FV.dv(1.0)), 1)))
    val out = QueryEngine.run(pts, QueryParams("m", endNs = Some(100), aggs = Seq(
      AggSpec("count", "v"), AggSpec("sum", "v"), AggSpec("avg", "v"),
      AggSpec("min", "v"), AggSpec("frac", "v"), AggSpec("stddev", "v"))))
    val r = out.collect()(0)
    assert(r.getAs[Long]("count_v") == 0)
    assert(r.getAs[Double]("sum_v") == 0.0)
    assert(r.getAs[Double]("avg_v").isNaN)
    assert(r.getAs[Double]("min_v").isNaN)
    assert(r.getAs[Double]("frac_v").isNaN)
    assert(r.getAs[Double]("stddev_v").isNaN)
  }

  test("frac edge cases: both-zero → 0; first-zero → +Inf; single value → NaN") {
    def frac(vals: Seq[Double]): Double = {
      val pts = mkDf(vals.zipWithIndex.map { case (v, i) =>
        TP("m", Map(), 10 + i, Map("v" -> FV.dv(v)), i) })
      QueryEngine.run(pts, QueryParams("m", endNs = Some(100),
        aggs = Seq(AggSpec("frac", "v")))).collect()(0).getAs[Double]("frac_v")
    }
    assert(frac(Seq(0.0, 0.0)) == 0.0)
    assert(frac(Seq(0.0, 5.0)) == Double.PositiveInfinity)
    assert(frac(Seq(3.0)).isNaN)
    assert(frac(Seq(4.0, 6.0)) == 0.5)
  }

  test("stddev: sample stddev, single value → NaN") {
    val pts = mkDf(Seq(
      TP("m", Map(), 10, Map("v" -> FV.dv(2.0)), 1),
      TP("m", Map(), 20, Map("v" -> FV.dv(4.0)), 2),
      TP("m", Map(), 30, Map("v" -> FV.dv(6.0)), 3)))
    val out = QueryEngine.run(pts, QueryParams("m", endNs = Some(100),
      aggs = Seq(AggSpec("stddev", "v"))))
    assert(math.abs(out.collect()(0).getAs[Double]("stddev_v") - 2.0) < 1e-12)
  }

  test("downsample: epoch-aligned windows, per-series grouping") {
    // interval 100; points at 105,150 (w=100), 210 (w=200) for h1; 110 for h2
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 105, Map("v" -> FV.dv(1.0)), 1),
      TP("m", Map("h" -> "1"), 150, Map("v" -> FV.dv(3.0)), 2),
      TP("m", Map("h" -> "1"), 210, Map("v" -> FV.dv(5.0)), 3),
      TP("m", Map("h" -> "2"), 110, Map("v" -> FV.dv(7.0)), 4)))
    val out = QueryEngine.run(pts, QueryParams("m", startNs = 105, endNs = Some(290),
      downsampleNs = Some(100), aggs = Seq(AggSpec("avg", "v"), AggSpec("count", "*"))))
    val got = out.select($"tags"("h"), $"window_start", $"window_end", $"avg_v", $"count_star")
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == Set(
      ("1", 100L, 200L, 2.0, 2L),  // aligned to 100 even though query starts at 105
      ("2", 100L, 200L, 7.0, 1L),
      ("1", 200L, 300L, 5.0, 1L)))
  }

  test("downsample: emit empty windows fills count=0 sum=0 others NaN") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 0, Map("v" -> FV.dv(1.0)), 1),
      TP("m", Map("h" -> "1"), 250, Map("v" -> FV.dv(5.0)), 2)))
    val out = QueryEngine.run(pts, QueryParams("m", startNs = 0, endNs = Some(299),
      downsampleNs = Some(100), emitEmptyWindows = true,
      aggs = Seq(AggSpec("count", "*"), AggSpec("sum", "v"), AggSpec("avg", "v"))))
    val got = out.select($"window_start", $"count_star", $"sum_v", $"avg_v")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length == 3)
    assert(got(0) == ((0L, 1L, 1.0, 1.0)))
    assert(got(1)._1 == 100L && got(1)._2 == 0L && got(1)._3 == 0.0 && got(1)._4.isNaN)
    assert(got(2) == ((200L, 1L, 5.0, 5.0)))
  }

  test("downsample FILL(PREVIOUS): gaps carry last observed value; count stays 0; leading gap default") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 100, Map("v" -> FV.dv(3.0)), 1),
      TP("m", Map("h" -> "1"), 350, Map("v" -> FV.dv(7.0)), 2)))
    // FILL alone materializes the slot grid — no emitEmptyWindows set
    val out = QueryEngine.run(pts, QueryParams("m", startNs = 0, endNs = Some(399),
      downsampleNs = Some(100), fill = FillPrevious,
      aggs = Seq(AggSpec("count", "*"), AggSpec("sum", "v"), AggSpec("avg", "v"))))
    val got = out.select($"window_start", $"count_star", $"sum_v", $"avg_v")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length == 4)
    assert(got(0)._2 == 0L && got(0)._3 == 0.0 && got(0)._4.isNaN) // leading gap: default
    assert(got(1) == ((100L, 1L, 3.0, 3.0)))
    assert(got(2) == ((200L, 0L, 0.0, 3.0))) // LOCF on avg; count/sum stay 0
    assert(got(3) == ((300L, 1L, 7.0, 7.0)))
  }

  test("downsample FILL(LINEAR): interior gaps interpolate; edge gaps stay NaN") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 100, Map("v" -> FV.dv(1.0)), 1),
      TP("m", Map("h" -> "1"), 450, Map("v" -> FV.dv(7.0)), 2)))
    val out = QueryEngine.run(pts, QueryParams("m", startNs = 0, endNs = Some(599),
      downsampleNs = Some(100), fill = FillLinear,
      aggs = Seq(AggSpec("count", "*"), AggSpec("avg", "v"))))
    val got = out.select($"window_start", $"count_star", $"avg_v")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.length == 6)
    assert(got(0)._3.isNaN)                  // leading gap: no previous neighbor
    assert(got(1) == ((100L, 1L, 1.0)))
    assert(got(2) == ((200L, 0L, 3.0)))      // 1 + (7-1)*(100/300)
    assert(got(3) == ((300L, 0L, 5.0)))      // 1 + (7-1)*(200/300)
    assert(got(4) == ((400L, 1L, 7.0)))
    assert(got(5)._3.isNaN)                  // trailing gap: no next neighbor
  }

  test("downsample FILL(PREVIOUS): fill is per-series, never crosses series") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 50, Map("v" -> FV.dv(2.0)), 1),
      TP("m", Map("h" -> "2"), 150, Map("v" -> FV.dv(9.0)), 2)))
    val out = QueryEngine.run(pts, QueryParams("m", startNs = 0, endNs = Some(199),
      downsampleNs = Some(100), fill = FillPrevious,
      aggs = Seq(AggSpec("avg", "v"))))
    val got = out.select($"tags"("h"), $"window_start", $"avg_v")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.length == 4)
    assert(got(0) == (("1", 0L, 2.0)))
    assert(got(1) == (("1", 100L, 2.0))) // h1 carries its own value forward
    assert(got(2)._3.isNaN)              // h2's leading gap untouched by h1
    assert(got(3) == (("2", 100L, 9.0)))
  }

  test("rate: counter resets clamp to the new value; first point emits no row") {
    val pts = mkDf(Seq(
      TP("ctr", Map("h" -> "1"), 1000, Map("value" -> FV.dv(10.0)), 1),
      TP("ctr", Map("h" -> "1"), 3000, Map("value" -> FV.dv(16.0)), 2),
      TP("ctr", Map("h" -> "1"), 4000, Map("value" -> FV.dv(2.0)), 3), // reset
      TP("ctr", Map("h" -> "2"), 2000, Map("value" -> FV.dv(5.0)), 4)))
    val out = TsAnalytics.rate(pts, QueryParams("ctr", endNs = Some(10000)))
      .select($"tags"("h"), $"timestamp", $"delta", $"rate_per_sec")
      .as[(String, Long, Double, Double)].collect().toSeq
    // h2 has a single point → no rate row; h1's first point drops
    assert(out == Seq(
      ("1", 3000L, 6.0, 6.0 * 1e9 / 2000.0),
      ("1", 4000L, 2.0, 2.0 * 1e9 / 1000.0))) // reset: delta = new value
    // gauge semantics: decreases stay negative
    val gauge = TsAnalytics.rate(pts, QueryParams("ctr", endNs = Some(10000)),
      counterReset = false)
      .filter($"timestamp" === 4000).select($"delta").as[Double].head()
    assert(gauge == -14.0)
  }

  test("rate: respects the time range and latest-version merge") {
    val pts = mkDf(Seq(
      TP("m", Map(), 100, Map("value" -> FV.dv(1.0)), 1),
      TP("m", Map(), 200, Map("value" -> FV.dv(2.0)), 2),
      TP("m", Map(), 200, Map("value" -> FV.dv(4.0)), 5), // re-push wins
      TP("m", Map(), 300, Map("value" -> FV.dv(9.0)), 3)))
    val out = TsAnalytics.rate(pts, QueryParams("m", startNs = 200, endNs = Some(300)))
      .select($"timestamp", $"delta").as[(Long, Double)].collect().toSeq
    // the point before startNs is not consulted: only 200→300 pairs up,
    // and ts=200 carries the latest version (4.0), so delta = 5.0
    assert(out == Seq((300L, 5.0)))
  }

  test("rolling z-score: trailing window excludes self, gates on minPoints and variance") {
    val base = (0 until 6).map { i =>
      TP("m", Map("h" -> "1"), 100L * (i + 1), Map("value" -> FV.dv(2.0)), i.toLong)
    }
    // 7th point jumps; constant baseline → zero variance → null score
    val jump = TP("m", Map("h" -> "1"), 700, Map("value" -> FV.dv(50.0)), 10)
    val varied = (0 until 6).map { i =>
      TP("m", Map("h" -> "2"), 100L * (i + 1), Map("value" -> FV.dv(i.toDouble)), i.toLong)
    } :+ TP("m", Map("h" -> "2"), 700, Map("value" -> FV.dv(100.0)), 11)
    val out = TsAnalytics.rollingZScore(mkDf(base ++ Seq(jump) ++ varied),
      QueryParams("m", endNs = Some(10000)), lookback = 20, minPoints = 5,
      threshold = 3.0)
    val rows = out.select($"tags"("h"), $"timestamp", $"z", $"is_anomaly")
      .as[(String, Long, Option[Double], Boolean)].collect()
    val h1 = rows.filter(_._1 == "1"); val h2 = rows.filter(_._1 == "2")
    // h1: first 5 points below minPoints → null; 6th has 5 constant
    // predecessors → zero variance → null; the jump likewise (variance 0)
    assert(h1.forall(_._3.isEmpty) && h1.forall(!_._4))
    // h2: varied baseline scores the jump as anomalous
    val scored = h2.filter(_._2 == 700L).head
    // mean of 0..5 = 2.5, stddev_samp ≈ 1.8708 → z ≈ 52.1
    assert(scored._3.exists(z => math.abs(z - (100.0 - 2.5) /
      math.sqrt((0 until 6).map(v => (v - 2.5) * (v - 2.5)).sum / 5.0)) < 1e-9))
    assert(scored._4)
    // points below minPoints stay unscored and unflagged
    assert(h2.filter(_._2 <= 500L).forall(r => r._3.isEmpty && !r._4))
  }

  test("time-weighted avg: LOCF weights, clamped at window edge, per series") {
    // series h1 in window [0,1000): points at t=0 (v=10, holds 400ns),
    // t=400 (v=20, holds 600ns to window edge — next point is in the NEXT
    // window, so the weight clamps at 1000); window [1000,2000): one point
    // at t=1500 (v=40, holds 500ns)
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 0, Map("value" -> FV.dv(10.0)), 1),
      TP("m", Map("h" -> "1"), 400, Map("value" -> FV.dv(20.0)), 2),
      TP("m", Map("h" -> "1"), 1500, Map("value" -> FV.dv(40.0)), 3),
      // h2: single point mid-window → twa = its value regardless of weight
      TP("m", Map("h" -> "2"), 700, Map("value" -> FV.dv(7.0)), 4)))
    val out = TsAnalytics.timeWeightedAvg(pts,
      QueryParams("m", startNs = 0, endNs = Some(10000), downsampleNs = Some(1000)))
    val got = out.select($"tags"("h"), $"window_start", $"twa", $"n_points")
      .as[(String, Long, Double, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.length == 3)
    assert(got(0)._1 == "1" && got(0)._2 == 0L)
    assert(math.abs(got(0)._3 - (10.0 * 400 + 20.0 * 600) / 1000.0) < 1e-12)
    assert(got(0)._4 == 2)
    assert(got(1) == (("1", 1000L, 40.0, 1L)))   // weight cancels: twa = v
    assert(got(2) == (("2", 0L, 7.0, 1L)))       // one point → its value
  }

  test("running aggregates: cumulative sum/max and point index per series") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 100, Map("value" -> FV.dv(3.0)), 1),
      TP("m", Map("h" -> "1"), 200, Map("value" -> FV.dv(-1.0)), 2),
      TP("m", Map("h" -> "1"), 300, Map("value" -> FV.dv(5.0)), 3),
      TP("m", Map("h" -> "2"), 150, Map("value" -> FV.dv(8.0)), 4)))
    val out = TsAnalytics.runningAggregates(pts, QueryParams("m", endNs = Some(10000)))
    val got = out.select($"tags"("h"), $"timestamp", $"cum_sum", $"cum_max", $"point_index")
      .as[(String, Long, Double, Double, Int)].collect().sortBy(r => (r._1, r._2))
    assert(got(0) == (("1", 100L, 3.0, 3.0, 1)))
    assert(got(1) == (("1", 200L, 2.0, 3.0, 2)))
    assert(got(2) == (("1", 300L, 7.0, 5.0, 3)))
    assert(got(3) == (("2", 150L, 8.0, 8.0, 1))) // h2 unaffected by h1
  }

  test("ewma: seeded with first value, exact recurrence, per series") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 100, Map("value" -> FV.dv(4.0)), 1),
      TP("m", Map("h" -> "1"), 200, Map("value" -> FV.dv(8.0)), 2),
      TP("m", Map("h" -> "1"), 300, Map("value" -> FV.dv(0.0)), 3),
      TP("m", Map("h" -> "2"), 150, Map("value" -> FV.dv(9.0)), 4)))
    val out = TsAnalytics.ewmaSmooth(pts, QueryParams("m", endNs = Some(10000)),
      alpha = 0.5)
    val got = out.select($"tags"("h"), $"timestamp", $"ewma")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // 4; 0.5*8+0.5*4 = 6; 0.5*0+0.5*6 = 3 — exact dyadic arithmetic
    assert(got(0) == (("1", 100L, 4.0)))
    assert(got(1) == (("1", 200L, 6.0)))
    assert(got(2) == (("1", 300L, 3.0)))
    assert(got(3) == (("2", 150L, 9.0))) // fresh seed per series
  }

  test("holt trend: seeded level, zero initial trend, exact dyadic recurrence") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 100, Map("value" -> FV.dv(4.0)), 1),
      TP("m", Map("h" -> "1"), 200, Map("value" -> FV.dv(8.0)), 2),
      TP("m", Map("h" -> "1"), 300, Map("value" -> FV.dv(12.0)), 3),
      TP("m", Map("h" -> "2"), 150, Map("value" -> FV.dv(5.0)), 4)))
    val out = TsAnalytics.holtSmooth(pts, QueryParams("m", endNs = Some(10000)),
      alpha = 0.5, beta = 0.5)
    val got = out.select($"tags"("h"), $"timestamp", $"level", $"trend", $"forecast")
      .as[(String, Long, Double, Double, Double)].collect().sortBy(r => (r._1, r._2))
    // t1: l=4, b=0; t2: l=.5*8+.5*4=6, b=.5*2+0=1; t3: l=.5*12+.5*7=9.5,
    // b=.5*3.5+.5*1=2.25 — all exact dyadic
    assert(got(0) == (("1", 100L, 4.0, 0.0, 4.0)))
    assert(got(1) == (("1", 200L, 6.0, 1.0, 7.0)))
    assert(got(2) == (("1", 300L, 9.5, 2.25, 11.75)))
    assert(got(3) == (("2", 150L, 5.0, 0.0, 5.0))) // fresh seed per series
  }

  test("correlate: pairs only co-observed buckets, gates on minBuckets and variance") {
    // user A: y = 2x across 4 buckets → r = 1; user B: constant second
    // metric → zero variance → NaN corr → dropped; user C: only 2 paired
    // buckets < minBuckets → dropped
    def p(m: String, u: String, t: Long, v: Double, seq: Long) =
      TP(m, Map("user" -> u), t, Map("value" -> FV.dv(v)), seq)
    val rows = Seq.tabulate(4) { i =>
      Seq(p("a", "A", i * 100L, i + 1.0, i * 10L),
        p("b", "A", i * 100L + 5, 2 * (i + 1.0), i * 10L + 1))
    }.flatten ++ Seq.tabulate(4) { i =>
      Seq(p("a", "B", i * 100L, i + 1.0, 100L + i * 10),
        p("b", "B", i * 100L + 5, 42.0, 101L + i * 10))
    }.flatten ++ Seq.tabulate(2) { i =>
      Seq(p("a", "C", i * 100L, i + 1.0, 200L + i * 10),
        p("b", "C", i * 100L + 5, 3 - i.toDouble, 201L + i * 10))
    }.flatten
    val out = TsAnalytics.correlate(mkDf(rows), "a", "b", "user",
      bucketNs = 100L, startNs = 0L, endNs = 10000L, minBuckets = 3)
    val got = out.select($"tag_value", $"r", $"n_buckets")
      .as[(String, Double, Long)].collect()
    assert(got.length == 1)
    assert(got(0)._1 == "A" && math.abs(got(0)._2 - 1.0) < 1e-12 && got(0)._3 == 4)
  }

  test("ratio: aligned buckets only, zero/missing divisor dropped, guarded division") {
    def p(m: String, u: String, t: Long, v: Double, seq: Long) =
      TP(m, Map("user" -> u), t, Map("value" -> FV.dv(v)), seq)
    val rows = Seq(
      p("a", "A", 100, 6.0, 1), p("b", "A", 150, 2.0, 2),  // bucket 0: 3.0
      p("a", "A", 1100, 5.0, 3),                            // bucket 1: no b → drop
      p("b", "A", 2100, 4.0, 4),                            // bucket 2: no a → drop
      p("a", "B", 100, 9.0, 5), p("b", "B", 120, 0.0, 6))   // zero divisor → drop
    val out = TsAnalytics.ratio(mkDf(rows), "a", "b", "user",
      bucketNs = 1000L, startNs = 0L, endNs = 10000L)
    val got = out.select($"tag_value", $"bucket", $"n_a", $"n_b", $"ratio")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(("A", 0L, 1L, 1L, 3.0)))
  }

  test("top-k groups: ranked by aggregate desc, deterministic ties, k-bounded") {
    def p(u: String, t: Long, v: Double, seq: Long) =
      TP("m", Map("user" -> u), t, Map("value" -> FV.dv(v)), seq)
    val rows = Seq(p("A", 100, 5.0, 1), p("A", 200, 5.0, 2), // A: 10
      p("B", 100, 12.0, 3),                                   // B: 12
      p("C", 100, 10.0, 4),                                   // C: 10 (ties A → A first)
      p("D", 100, 1.0, 5))                                    // D: 1, cut by k=3
    val q = QueryParams("m", startNs = 0, endNs = Some(10000),
      aggs = Seq(AggSpec("sum", "value")))
    val got = TsAnalytics.topKGroups(mkDf(rows), q, Seq("user"), k = 3, by = "sum_value")
      .select($"rank", $"tag_user", $"sum_value")
      .as[(Int, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, "B", 12.0), (2, "A", 10.0), (3, "C", 10.0)))
    intercept[IllegalArgumentException] {
      TsAnalytics.topKGroups(mkDf(rows), q, Seq("user"), k = 3, by = "nope")
    }
  }

  test("series cardinality: distinct series per metric window after merge") {
    val pts = mkDf(Seq(
      TP("m", Map("h" -> "1"), 100, Map("value" -> FV.dv(1.0)), 1),
      // same series, same ts, higher seq — latest-version merge keeps ONE
      TP("m", Map("h" -> "1"), 100, Map("value" -> FV.dv(2.0)), 2),
      TP("m", Map("h" -> "2"), 150, Map("value" -> FV.dv(3.0)), 3),
      TP("m", Map("h" -> "1"), 1100, Map("value" -> FV.dv(4.0)), 4),
      TP("n", Map("h" -> "1"), 120, Map("value" -> FV.dv(5.0)), 5)))
    val out = TsAnalytics.seriesCardinality(pts, windowNs = 1000L,
      startNs = 0L, endNs = 10000L)
    val got = out.select($"metric", $"window_start", $"n_series", $"n_points")
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(("m", 0L, 2L, 2L), ("m", 1000L, 1L, 1L), ("n", 0L, 1L, 1L)))
  }

  test("tag prefix: trailing-* matches prefixes; mid-string * stays literal") {
    val pts = mkDf(Seq(
      TP("m", Map("host" -> "web1"), 10, Map("value" -> FV.dv(1.0)), 1),
      TP("m", Map("host" -> "web2"), 20, Map("value" -> FV.dv(2.0)), 2),
      TP("m", Map("host" -> "db1"), 30, Map("value" -> FV.dv(3.0)), 3),
      TP("m", Map("host" -> "we*b"), 40, Map("value" -> FV.dv(4.0)), 4),
      TP("m", Map("other" -> "x"), 50, Map("value" -> FV.dv(5.0)), 5)))
    def hosts(tags: Map[String, String]): Seq[Long] =
      QueryEngine.run(pts, QueryParams("m", tags, endNs = Some(100)))
        .select("timestamp").as[Long].collect().toSeq.sorted
    assert(hosts(Map("host" -> "web*")) == Seq(10L, 20L))
    assert(hosts(Map("host" -> "web1")) == Seq(10L))     // exact still exact
    assert(hosts(Map("host" -> "we*b")) == Seq(40L))     // mid-string * literal
    // bare * = any value for the key (rows WITHOUT the key don't match)
    assert(hosts(Map("host" -> "*")) == Seq(10L, 20L, 30L, 40L))
  }

  test("metric prefix: fans out across matching metrics, per-series semantics intact") {
    val pts = mkDf(Seq(
      TP("web.hits", Map("h" -> "1"), 10, Map("value" -> FV.dv(1.0)), 1),
      TP("web.errs", Map("h" -> "1"), 20, Map("value" -> FV.dv(2.0)), 2),
      TP("web.hits", Map("h" -> "1"), 110, Map("value" -> FV.dv(3.0)), 3),
      TP("db.conns", Map("h" -> "1"), 30, Map("value" -> FV.dv(9.0)), 4),
      // dup version within one matched metric: latest still wins
      TP("web.errs", Map("h" -> "1"), 20, Map("value" -> FV.dv(5.0)), 10)))
    val raw = QueryEngine.run(pts, QueryParams("web.*", endNs = Some(1000)))
      .select($"metric", $"timestamp", $"fields"("value")("d"))
      .as[(String, Long, Double)].collect().toSeq.sorted
    assert(raw == Seq(("web.errs", 20L, 5.0), ("web.hits", 10L, 1.0),
      ("web.hits", 110L, 3.0)))
    // downsample groups per (metric, series): no cross-metric merging
    val ds = QueryEngine.run(pts, QueryParams("web.*", endNs = Some(1000),
        downsampleNs = Some(100), aggs = Seq(AggSpec("sum", "value"))))
      .select($"metric", $"window_start", $"sum_value")
      .as[(String, Long, Double)].collect().toSeq.sorted
    assert(ds == Seq(("web.errs", 0L, 5.0), ("web.hits", 0L, 1.0),
      ("web.hits", 100L, 3.0)))
    // serving entry: prefix metrics skip cache/tiers but answer correctly
    val dir = java.nio.file.Files.createTempDirectory("graft_mprefix").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    try {
      eng.putDF(pts)
      val p = QueryParams("web.*", endNs = Some(1000))
      assert(eng.queryCached(p).map(_.toString).toSeq ==
        eng.query(p).collect().map(_.toString).toSeq)
      assert(eng.lastServePath == "spark", eng.lastServePath)
      // and twice: never a cache hit (no per-metric epoch to invalidate it)
      eng.queryCached(p)
      assert(eng.lastServePath == "spark")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("value filter: post-merge semantics — shadowed versions can't leak through") {
    val pts = mkDf(Seq(
      // latest version (seq 2) fails the filter: the point must vanish
      // even though its SHADOWED version would pass
      TP("m", Map("h" -> "1"), 100, Map("value" -> FV.dv(100.0)), 1),
      TP("m", Map("h" -> "1"), 100, Map("value" -> FV.dv(10.0)), 2),
      TP("m", Map("h" -> "1"), 200, Map("value" -> FV.dv(60.0)), 3),
      TP("m", Map("h" -> "1"), 300, Map("value" -> FV.dv(Double.NaN)), 4),
      TP("m", Map("h" -> "2"), 150, Map("value" -> FV.dv(75.0)), 5)))
    def got(q: QueryParams): Seq[(String, Long)] =
      QueryEngine.run(pts, q).select($"tags"("h"), $"timestamp")
        .as[(String, Long)].collect().toSeq.sorted
    val base = QueryParams("m", startNs = 0, endNs = Some(10000))
    assert(got(base.copy(valueFilters = Seq(ValueFilter("value", ">", 50.0)))) ==
      Seq(("1", 200L), ("2", 150L))) // 10.0 out, NaN never matches
    assert(got(base.copy(valueFilters = Seq(ValueFilter("value", "<=", 60.0)))) ==
      Seq(("1", 100L), ("1", 200L)))
    assert(got(base.copy(valueFilters = Seq(ValueFilter("value", "!=", 75.0)))) ==
      Seq(("1", 100L), ("1", 200L)))
    // filtered downsample: aggregates see only surviving points
    val agg = QueryEngine.run(pts, base.copy(downsampleNs = Some(1000),
        valueFilters = Seq(ValueFilter("value", ">", 50.0)),
        aggs = Seq(AggSpec("sum", "value"), AggSpec("count", "*"))))
      .select($"tags"("h"), $"sum_value", $"count_star")
      .as[(String, Double, Long)].collect().toSeq.sorted
    assert(agg == Seq(("1", 60.0, 1L), ("2", 75.0, 1L)))
    intercept[IllegalArgumentException] { ValueFilter("value", "~", 1.0) }
  }

  test("group by tags: aggregates across series; missing key → null group; collapse") {
    def p2(h: String, dc: Option[String], t: Long, v: Double, seq: Long) =
      TP("m", Map("host" -> h) ++ dc.map("dc" -> _), t,
        Map("value" -> FV.dv(v)), seq)
    val pts = mkDf(Seq(
      p2("h1", Some("east"), 50, 1.0, 1), p2("h2", Some("east"), 60, 3.0, 2),
      p2("h3", Some("west"), 70, 10.0, 3),
      p2("h1", Some("east"), 150, 5.0, 4),
      p2("h4", None, 55, 100.0, 5))) // no dc tag → null group
    val q = QueryParams("m", startNs = 0, endNs = Some(199),
      downsampleNs = Some(100),
      aggs = Seq(AggSpec("sum", "value"), AggSpec("count", "*")))
    val got = TsAnalytics.aggregateByTags(pts, q, Seq("dc"))
      .select($"tag_dc", $"window_start", $"window_end", $"sum_value", $"count_star")
      .as[(Option[String], Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // east window 0 merges h1+h2 across series; west separate; h4 → null
    assert(got((Some("east"), 0L)) == ((100L, 4.0, 2L)))
    assert(got((Some("east"), 100L)) == ((200L, 5.0, 1L)))
    assert(got((Some("west"), 0L)) == ((100L, 10.0, 1L)))
    assert(got((None, 0L)) == ((100L, 100.0, 1L)))
    assert(got.size == 4)

    // final-agg shape: one row per group at query start
    val fin = TsAnalytics.aggregateByTags(pts,
        q.copy(downsampleNs = None, startNs = 10), Seq("dc"))
      .select($"tag_dc", $"timestamp", $"sum_value")
      .as[(Option[String], Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(fin(Some("east")) == ((10L, 9.0)))
    assert(fin(Some("west")) == ((10L, 10.0)))

    // GROUP BY TAGS (): every series collapses into one group per window
    val all = TsAnalytics.aggregateByTags(pts, q, Nil)
      .select($"window_start", $"sum_value", $"count_star")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(all.toSeq == Seq((0L, 114.0, 4L), (100L, 5.0, 1L)))

    // per-series shapes are rejected
    intercept[IllegalArgumentException] {
      TsAnalytics.aggregateByTags(pts, q.copy(fill = FillPrevious), Nil)
    }
    intercept[IllegalArgumentException] {
      TsAnalytics.aggregateByTags(pts, q.copy(aggs = Nil), Nil)
    }
  }

  test("group by tags: latest-version dedup applies before the cross-series merge") {
    val pts = mkDf(Seq(
      TP("m", Map("host" -> "h1", "dc" -> "east"), 50, Map("value" -> FV.dv(1.0)), 1),
      // same (series, ts), higher seq — only 7.0 may reach the group sum
      TP("m", Map("host" -> "h1", "dc" -> "east"), 50, Map("value" -> FV.dv(7.0)), 2),
      TP("m", Map("host" -> "h2", "dc" -> "east"), 60, Map("value" -> FV.dv(2.0)), 3)))
    val q = QueryParams("m", startNs = 0, endNs = Some(99),
      downsampleNs = Some(100), aggs = Seq(AggSpec("sum", "value")))
    val got = TsAnalytics.aggregateByTags(pts, q, Seq("dc"))
      .select($"sum_value").as[Double].collect()
    assert(got.toSeq == Seq(9.0))
  }

  test("downsample: window starting at exactly queryEnd is not emitted") {
    val pts = mkDf(Seq(
      TP("m", Map(), 100, Map("v" -> FV.dv(1.0)), 1),
      TP("m", Map(), 200, Map("v" -> FV.dv(2.0)), 2))) // ts=200 == end, window [200,300) not emitted
    val out = QueryEngine.run(pts, QueryParams("m", startNs = 100, endNs = Some(200),
      downsampleNs = Some(100), aggs = Seq(AggSpec("count", "*"))))
    assert(out.select("window_start").as[Long].collect().toSeq == Seq(100L))
  }

  test("cursor pagination walks all rows exactly once") {
    val df = mkDf(series("h1", 7, base = 0, step = 10) ++ series("h2", 7, base = 0, step = 10))
    var cursor: Option[Cursor] = None
    var seen = Vector.empty[(Long, String)]
    var pages = 0
    var done = false
    while (!done && pages < 20) {
      val page = QueryEngine.run(df, QueryParams("cpu.usage", endNs = Some(1000),
        limit = Some(5), afterKey = cursor)).collect()
      if (page.isEmpty) done = true
      else {
        seen ++= page.map(r => (r.getAs[Long]("timestamp"), r.getAs[String]("series_key")))
        val last = page.last
        cursor = Some(Cursor(last.getAs[Long]("timestamp"), last.getAs[String]("series_key")))
        pages += 1
      }
    }
    assert(seen.length == 14)
    assert(seen.distinct.length == 14)
    assert(seen == seen.sorted)
  }

  test("relative range: end = min(now, max data ts), start = end − dur") {
    val df = mkDf(series("h1", 10, base = 1000, step = 100)) // ts 1000..1900
    val out = QueryEngine.run(df, QueryParams("cpu.usage",
      relativeNs = Some(300), nowNs = Some(100000)))
    // end = min(100000, 1900) = 1900; start = 1600 → ts 1600..1900 inclusive
    assert(out.select("timestamp").as[Long].collect().toSeq == Seq(1600L, 1700L, 1800L, 1900L))
  }

  test("serving view: queryServing == query across every shape; epoch-scoped rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_serving").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.putDF(mkDf(series("h1", 20, base = 0, step = 10 * M) ++
      series("h2", 20, base = 0, step = 10 * M, v0 = 5.0, seq0 = 100) :+
      TP("mem.free", Map("host" -> "h1"), 50 * M, Map("value" -> FV.dv(3.0)), 500)))
    // bulk putDF takes row seqs as-given without advancing the engine's
    // counter; jump it so the tombstones below shadow every row above
    eng.reserveSeqBlock()
    eng.deletePoint("cpu.usage", Map("host" -> "h1"), 30 * M)
    eng.deleteRange("cpu.usage", Map("host" -> "h2"), 100 * M, 140 * M)
    // h1's newest point: a RELATIVE range must not end at a deleted row
    eng.deletePoint("cpu.usage", Map("host" -> "h1"), 190 * M)

    def same(p: QueryParams): Unit = {
      val a = eng.query(p).collect().map(_.toString).sorted.toSeq
      val b = eng.queryServing(p).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"serving mismatch for $p")
      assert(a.nonEmpty || p.tags.contains("none"), s"vacuous check for $p")
    }
    same(QueryParams("cpu.usage", endNs = Some(1000 * M)))
    same(QueryParams("cpu.usage", Map("host" -> "h2"),
      startNs = 50 * M, endNs = Some(160 * M), order = Descending, limit = Some(5)))
    same(QueryParams("cpu.usage", endNs = Some(1000 * M),
      aggs = Seq(AggSpec("avg", "value"), AggSpec("count", "value"))))
    same(QueryParams("cpu.usage", endNs = Some(199 * M), downsampleNs = Some(60 * M),
      aggs = Seq(AggSpec("sum", "value")), emitEmptyWindows = true))
    same(QueryParams("cpu.usage", relativeNs = Some(50 * M), nowNs = Some(1000 * M)))
    same(QueryParams("cpu.usage", Map("host" -> "h1"),
      relativeNs = Some(35 * M), nowNs = Some(1000 * M)))
    same(QueryParams("cpu.usage", endNs = Some(1000 * M),
      afterKey = Some(Cursor(100 * M, "cpu.usage"))))

    // queryCached misses execute UNORDERED and sort driver-side — the
    // returned row order must still equal the Spark-side global sort
    def sameOrdered(p: QueryParams): Unit = {
      val a = eng.query(p).collect().map(_.toString).toSeq
      val b = eng.queryCached(p).map(_.toString).toSeq
      assert(a == b, s"presentation-order mismatch for $p")
    }
    sameOrdered(QueryParams("cpu.usage", endNs = Some(1000 * M)))
    sameOrdered(QueryParams("cpu.usage", endNs = Some(1000 * M), order = Descending))
    sameOrdered(QueryParams("cpu.usage", endNs = Some(199 * M),
      downsampleNs = Some(60 * M), aggs = Seq(AggSpec("sum", "value")),
      emitEmptyWindows = true, order = Descending))
    sameOrdered(QueryParams("cpu.usage", endNs = Some(1000 * M), limit = Some(7)))
    sameOrdered(QueryParams("cpu.usage", Map("host" -> "h2"),
      relativeNs = Some(50 * M), nowNs = Some(1000 * M)))
    sameOrdered(QueryParams("cpu.usage", Map("host" -> "h1"),
      relativeNs = Some(35 * M), nowNs = Some(1000 * M)))
    sameOrdered(QueryParams("cpu.usage", endNs = Some(1000 * M),
      afterKey = Some(Cursor(100 * M, "cpu.usage")), limit = Some(3),
      order = Descending))
    // identical answers with the driver-resident tier disabled (Spark path)
    eng.localServingMaxRows = 0
    sameOrdered(QueryParams("cpu.usage", endNs = Some(1000 * M), order = Descending))
    sameOrdered(QueryParams("cpu.usage", Map("host" -> "h2"),
      relativeNs = Some(50 * M), nowNs = Some(1000 * M)))
    eng.localServingMaxRows = 1000000L

    // epoch scoping: a commit to mem.free must NOT rebuild cpu.usage's view
    val before = eng.servingView("cpu.usage")
    eng.putBatch(Seq(graft.model.DataPoint("mem.free", Map("host" -> "h9"),
      1L, Map("value" -> graft.model.FieldValue(d = Some(1.0))))))
    assert(eng.servingView("cpu.usage") eq before, "foreign commit rebuilt view")
    // ...while a delete on cpu.usage must invalidate it and be visible
    eng.deleteSeries("cpu.usage", Map("host" -> "h1"))
    assert(eng.servingView("cpu.usage") ne before, "own commit kept stale view")
    same(QueryParams("cpu.usage", endNs = Some(1000 * M)))
    assert(eng.queryServing(QueryParams("cpu.usage", Map("host" -> "h1"),
      endNs = Some(1000 * M))).isEmpty)
  }

  test("serving view maintenance: commits rebuild only touched dates; churn → full") {
    val Day = TsdbEngine.DayNs
    val dir = java.nio.file.Files.createTempDirectory("graft_servinc").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    // three days of data
    eng.putDF(mkDf((for (d <- 0 until 3; i <- 0 until 20) yield
      TP("cpu.usage", Map("host" -> s"h${i % 2}"), d * Day + i * M,
        Map("value" -> FV.dv(d * 100.0 + i)), d * 100L + i)).toSeq))
    val p = QueryParams("cpu.usage", endNs = Some(10 * Day))
    def same(): Unit = {
      val a = eng.query(p).collect().map(_.toString).toSeq
      assert(a.nonEmpty)
      assert(eng.queryServing(p).collect().map(_.toString).toSeq == a)
    }
    same()
    assert(eng.lastServingBuild == "full")

    // a one-day append re-merges ONLY that day (delta path), same answers
    eng.reserveSeqBlock()
    eng.putBatch(Seq(graft.model.DataPoint("cpu.usage", Map("host" -> "h0"),
      2 * Day + 555 * M, Map("value" -> graft.model.FieldValue(d = Some(7.5))))))
    same()
    assert(eng.lastServingBuild == "incremental",
      "single-day append must take the delta path")

    // a point delete on day 0 is another delta; latest data still wins
    eng.deletePoint("cpu.usage", Map("host" -> "h0"), 0L)
    same()
    assert(eng.lastServingBuild == "incremental")

    // the new point and the tombstone are both visible through the view
    val served = eng.queryServing(p).collect().map(_.toString).toSeq
    assert(served.exists(_.contains("7.5")), "delta row must be served")
    // endNs=0 is the unset sentinel, so probe [0, 1] — only the deleted
    // h0 point lived there
    assert(eng.queryServing(p.copy(startNs = 0L, endNs = Some(1L)))
      .collect().isEmpty, "tombstoned point must be gone")

    // compaction rewrites every date → full rebuild, answers unchanged
    assert(eng.compact().isRight)
    same()
    assert(eng.lastServingBuild == "full",
      "most-data churn must collapse back to a full build")

    // delta budget: exhausting it forces a full rebuild
    eng.servingDeltaMax = 2
    (0 until 3).foreach { k =>
      eng.putBatch(Seq(graft.model.DataPoint("cpu.usage", Map("host" -> "h1"),
        1 * Day + (600 + k) * M,
        Map("value" -> graft.model.FieldValue(d = Some(k.toDouble))))))
      same()
    }
    assert(eng.lastServingBuild == "full",
      "third delta exceeds servingDeltaMax=2 and must trigger a full rebuild")
    eng.servingDeltaMax = 16
  }

  test("serving row budget: over-budget queries serve a bounded, correct first page") {
    val dir = java.nio.file.Files.createTempDirectory("graft_budget").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.putDF(mkDf(series("h1", 50, base = 0, step = M)))
    eng.localServingMaxRows = 0 // force the Spark serving path
    eng.servingRowBudget = 10
    val p = QueryParams("cpu.usage", endNs = Some(1000 * M))
    val full = eng.query(p).collect().map(_.toString).toSeq
    assert(full.length == 50)

    // over budget: truncated flag set, rows are EXACTLY the first page of
    // the full presentation order, never a 50-row driver materialization
    val (page, truncated) = eng.queryCachedCapped(p)
    assert(truncated, "50 rows over a 10-row budget must report truncation")
    assert(page.length == 10)
    assert(page.map(_.toString).toSeq == full.take(10))

    // the cursor continues from the truncation point (W3 pages the rest)
    val last = page.last
    val cur = Cursor(last.getAs[Long]("timestamp"), last.getAs[String]("series_key"))
    val (page2, _) = eng.queryCachedCapped(p.copy(afterKey = Some(cur)))
    assert(page2.map(_.toString).toSeq == full.slice(10, 20))

    // truncated results were NOT cached: a raised budget serves the full set
    eng.servingRowBudget = 2000000L
    val (all, t2) = eng.queryCachedCapped(p)
    assert(!t2 && all.map(_.toString).toSeq == full)

    // an explicit LIMIT stays caller-controlled (bounded via TakeOrdered)
    eng.servingRowBudget = 10
    val (lim, t3) = eng.queryCachedCapped(p.copy(limit = Some(20L)))
    assert(!t3 && lim.length == 20 && lim.map(_.toString).toSeq == full.take(20))

    // aggregates stay un-truncated (tiny by construction)
    val (agg, t4) = eng.queryCachedCapped(p.copy(
      aggs = Seq(AggSpec("count", "*"), AggSpec("sum", "value"))))
    assert(!t4 && agg.length == 1)
  }

  test("driver tier orders supplementary-plane series keys like Spark") {
    // U+1F600 (surrogate pair) vs U+FA00: Scala String order puts the
    // emoji key FIRST, UTF-8 binary order puts it LAST — the tiers must
    // agree with the Spark path, or cursor pages drift between them
    assert("😀" < "切") // UTF-16 order (the wrong one)
    assert(Utf8Order.compare("😀", "切") > 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_utf8").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    // same timestamp for every row: ordering is decided by series_key
    val rows = Seq("😀", "切", "ascii").zipWithIndex.map {
      case (h, i) => TP("cpu.usage", Map("host" -> h), 100 * M,
        Map("value" -> FV.dv(i.toDouble)), i.toLong)
    }
    eng.putDF(mkDf(rows))
    val p = QueryParams("cpu.usage", endNs = Some(1000 * M))
    def keys(rs: Seq[Row]): Seq[String] =
      rs.map(_.getAs[String]("series_key"))
    val sparkOrder = keys(eng.query(p).collect().toSeq)
    val localOrder = keys(eng.queryCached(p).toSeq)
    assert(localOrder == sparkOrder,
      s"local tier order $localOrder != spark order $sparkOrder")
    // keyset pagination agrees across the seam too: page 1 from the
    // local tier, page 2 computed by BOTH paths from its cursor
    val first = eng.queryCached(p.copy(limit = Some(1))).head
    val cur = Cursor(first.getAs[Long]("timestamp"),
      first.getAs[String]("series_key"))
    val localPage = keys(eng.queryCached(p.copy(afterKey = Some(cur))).toSeq)
    eng.localServingMaxRows = 0 // force the Spark serving path
    val sparkPage = keys(eng.queryCached(p.copy(afterKey = Some(cur))).toSeq)
    assert(localPage == sparkPage, s"$localPage != $sparkPage")
    assert(localPage.size == 2 && !localPage.contains(cur.seriesKey))
  }

  test("direct-API ANALYZE rejects out-of-range smoothing rates eagerly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rate_chk").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val q = QueryParams("cpu", startNs = 0L, endNs = Some(1000L))
    // eager IllegalArgumentException with the parameter named — not a
    // Catalyst analysis error from inside the native fold
    Seq(0.0, -0.5, 1.5).foreach { a =>
      val e = intercept[IllegalArgumentException](
        eng.analyze(q, AnalyzeEwma("v", a)))
      assert(e.getMessage.contains("alpha"))
      assert(intercept[IllegalArgumentException](
        eng.analyze(q, AnalyzeEwmaBy("v", a, 600L)))
        .getMessage.contains("alpha"))
      assert(intercept[IllegalArgumentException](
        eng.analyze(q, AnalyzeHolt("v", 0.5, a)))
        .getMessage.contains("beta"))
      assert(intercept[IllegalArgumentException](
        eng.analyze(q, AnalyzeHoltBy("v", a, 0.5, 600L)))
        .getMessage.contains("alpha"))
    }
    // boundary: 1.0 is legal (pure tracking) — must not throw
    eng.analyze(q, AnalyzeEwma("v", 1.0))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)); ()
  }
}
