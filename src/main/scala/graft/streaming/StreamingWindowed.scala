package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import StreamingAnomaly.{Counter, foldSeries}

/** Streaming twins of the WINDOWED per-series analytics (`ANALYZE
  * DELTA/RESETS/CHANGES(f) BY <dur>`, `TWA(f) BY <dur>`,
  * `EWMA/HOLT(f, …) BY <dur>` — [[graft.tsdb.TsAnalytics.windowedDelta]]
  * / [[graft.tsdb.TsAnalytics.windowedTransitions]] / the windowed
  * [[graft.tsdb.TsAnalytics.timeWeightedAvg]] /
  * [[graft.tsdb.TsAnalytics.ewmaSmoothBy]]): tumbling epoch-aligned
  * windows whose rows emit ONCE, as soon as they can never change.
  *
  * Both twins are [[StreamingAnomaly.foldSeries]] folds whose state holds
  * the OPEN window plus the last sample. A point landing in a LATER
  * window closes the open one — emitting its row — and opens the new
  * one; a series' FINAL window emits on event-time state expiry
  * (`idleExpiry` past the watermark), closed the same way the batch path
  * closes a range's last window. [[windowedAnalytics]] folds the running
  * [[StreamingAnomaly.Counter]] per window: the BOUNDARY pair's
  * increase/reset/change lands in the later point's window (the batch
  * operators' continuous-counter contract), and the TWA close extends
  * the last sample's LOCF weight to the window end (`least(next, w_end)`
  * = `w_end` when the next sample sits past the boundary — exactly
  * [[graft.tsdb.Rollup.runTwa]]'s close).
  *
  * In-order contract per series: rows at or before the last seen event
  * time drop (like [[StreamingAnomaly.rate]]); NaN/±Inf are not samples
  * (cleanNumeric parity). Arithmetic runs in ns (the batch operators'
  * unit), so closed-window rows are the batch path's bit-for-bit over
  * the same prefix (spec-pinned). */
object StreamingWindowed {

  /** Open window (start, running counter, LOCF area), O(1) per series. */
  case class WinSt(ws: Long, c: Counter, area: Double)

  case class WinRow(series_key: String, window_start: Long, n_points: Long,
      delta: Double, increase: Double, resets: Long, changes: Long,
      twa: Double)

  private def requireMsWindow(windowNs: Long): Unit =
    require(windowNs > 0 && windowNs % 1000000L == 0L,
      s"window must be a positive whole number of milliseconds, got $windowNs ns")

  private def windowOf(tNs: Long, windowNs: Long): Long =
    tNs - java.lang.Math.floorMod(tNs, windowNs)

  /** The counter fold per window (see object doc). Output (Append mode):
    * series_key, window_start (ns epoch long), n_points, delta,
    * increase, resets, changes, twa — project per verb via
    * [[windowedDelta]]/[[windowedTransitions]]/[[windowedTwa]].
    * `windowNs` must be a whole number of milliseconds (TimestampType
    * event times arrive ms-aligned from the engine's streaming sources). */
  def windowedAnalytics(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowNs: Long, lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame = {
    requireMsWindow(windowNs)
    def emit(k: String, st: WinSt): Option[WinRow] = {
      // close = window end (the crossing sample is past the boundary;
      // the final window closes the same way in the batch range)
      val c = st.c
      val closeNs = st.ws + windowNs
      val num = st.area + c.lastV * (closeNs - c.lastNs).toDouble
      val den = (closeNs - c.firstNs).toDouble
      Some(WinRow(k, st.ws, c.n, c.lastV - c.firstV, c.inc, c.resets,
        c.changes, if (den != 0.0) num / den else Double.NaN))
    }
    foldSeries[WinSt, WinRow](points, keyCol, tsCol, valueCol, lateness,
      idleExpiry, finite = true)(
      (key, st, t, v) => {
        val tNs = t.getTime * 1000000L
        val w = windowOf(tNs, windowNs)
        if (st == null) (WinSt(w, Counter.start(tNs, v), 0.0), None)
        else if (tNs <= st.c.lastNs) (st, None) // late/dup: dropped
        else if (w == st.ws) // in-window pair, plus its LOCF area
          (WinSt(w, st.c.add(tNs, v),
            st.area + st.c.lastV * (tNs - st.c.lastNs).toDouble), None)
        else (WinSt(w, st.c.across(tNs, v), 0.0), emit(key, st))
      },
      anchorMs = (st, _) => st.c.lastNs / 1000000L,
      expire = emit)
  }

  /** Smoothing state: the open window's start, count and last sample,
    * plus the recurrence (EWMA acc in `lvl`, or Holt level/trend). */
  case class SmoothSt(ws: Long, n: Long, lastNs: Long, lastV: Double,
      lvl: Double, trd: Double)

  case class SmoothRow(series_key: String, window_start: Long,
      n_points: Long, last_ts: Long, value: Double, lvl: Double, trd: Double)

  /** Streaming twin of `ANALYZE EWMA/HOLT(f, …) BY <dur>`: the per-sample
    * recurrence folds in event-time order with the SAME IEEE operations
    * as the native window aggregates (`α·v + (1−α)·acc`; Holt substitutes
    * the level update into the trend update), and each window's row
    * emits at close carrying the state at its last sample. `beta = None`
    * selects EWMA. */
  def windowedSmooth(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowNs: Long, alpha: Double,
      beta: Option[Double] = None, lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame = {
    requireMsWindow(windowNs)
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    beta.foreach(b => require(b > 0.0 && b <= 1.0, "beta must be in (0, 1]"))
    def emit(k: String, st: SmoothSt): Option[SmoothRow] =
      Some(SmoothRow(k, st.ws, st.n, st.lastNs, st.lastV, st.lvl, st.trd))
    val out = foldSeries[SmoothSt, SmoothRow](points, keyCol, tsCol, valueCol,
      lateness, idleExpiry, finite = true)(
      (key, st, t, v) => {
        val tNs = t.getTime * 1000000L
        val w = windowOf(tNs, windowNs)
        // seeded-first convention: level = v₁, trend = 0
        if (st == null) (SmoothSt(w, 1L, tNs, v, v, 0.0), None)
        else if (tNs <= st.lastNs) (st, None)
        else {
          // the recurrence — identical IEEE order to the natives
          val (nl, nt) = beta match {
            case None => (alpha * v + (1.0 - alpha) * st.lvl, 0.0)
            case Some(b) =>
              val newL = alpha * v + (1.0 - alpha) * (st.lvl + st.trd)
              (newL, b * (newL - st.lvl) + (1.0 - b) * st.trd)
          }
          if (w == st.ws) (SmoothSt(w, st.n + 1, tNs, v, nl, nt), None)
          else (SmoothSt(w, 1L, tNs, v, nl, nt), emit(key, st))
        }
      },
      anchorMs = (st, _) => st.lastNs / 1000000L,
      expire = emit)
    beta match {
      case None => out.select(col("series_key"), col("window_start"),
        col("n_points"), col("last_ts"), col("value"), col("lvl").as("ewma"))
      case Some(_) => out.select(col("series_key"), col("window_start"),
        col("n_points"), col("last_ts"), col("value"),
        col("lvl").as("level"), col("trd").as("trend"),
        (col("lvl") + col("trd")).as("forecast"))
    }
  }

  /** `ANALYZE DELTA(f) BY <dur>` twin: window_start, n_points, delta
    * (in-window gauge change), increase (reset-aware counter increase,
    * boundary pairs in the later window). */
  def windowedDelta(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowNs: Long, lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame =
    windowedAnalytics(points, keyCol, tsCol, valueCol, windowNs, lateness,
      idleExpiry)
      .select(col("series_key"), col("window_start"), col("n_points"),
        col("delta"), col("increase"))

  /** `ANALYZE RESETS/CHANGES(f) BY <dur>` twin: exact long transition
    * counts per window — bit-identical to the batch operator. */
  def windowedTransitions(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowNs: Long, lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame =
    windowedAnalytics(points, keyCol, tsCol, valueCol, windowNs, lateness,
      idleExpiry)
      .select(col("series_key"), col("window_start"), col("n_points"),
        col("resets"), col("changes"))

  /** `ANALYZE TWA(f) BY <dur>` twin: per-window LOCF time-weighted
    * average (the last sample's weight runs to the window end). */
  def windowedTwa(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowNs: Long, lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame =
    windowedAnalytics(points, keyCol, tsCol, valueCol, windowNs, lateness,
      idleExpiry)
      .select(col("series_key"), col("window_start"), col("twa"),
        col("n_points"))
}
