package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twins of the per-series analytics — each the incremental
  * form of its batch operator in [[graft.tsdb.TsAnalytics]], and
  * [[score]] the continuous version of the reference's threshold
  * outlier-detector hook (`hooks/listeners/outlier_detector.go`).
  *
  * Every twin here and in [[StreamingWindowed]] is one call of
  * [[foldSeries]], which owns the shared setup: project (key, event time,
  * value), drop NaN/±Inf where the batch twin does (cleanNumeric), apply
  * the watermark, group by series, fold each micro-batch in event-time
  * order, update the state and set its event-time expiry. A twin only
  * supplies its state's step (and, for the windowed twins, the row a
  * state emits when it expires). State per live series is O(1) (a
  * bounded ring for [[score]]); series idle past `idleExpiry` drop their
  * state entirely and re-warm on return, the same bounded-state contract
  * as [[StreamingDedup]].
  *
  * [[runningDelta]] and [[transitions]] are projections of ONE running
  * [[Counter]] fold; the windowed twins fold the same counter per
  * window.
  *
  * Contract parity with the batch operators is for in-order feeds. Late
  * rows follow each twin's rule: [[score]] and [[smooth]] fold every row
  * at arrival and anchor expiry on the batch's last event time; the
  * others drop rows at or before the series' last event time and anchor
  * expiry on the STATE's last event time, so a batch of all-late rows
  * cannot pull the deadline earlier. The batch twin, re-run over the
  * settled table, stays the source of truth (the lambda split this
  * library uses for streaming twins). */
object StreamingAnomaly {

  /** The per-series fold every streaming twin runs (see object doc).
    * `step` gets the series' state (null for a new or expired series)
    * and one row, and returns the next state and an optional output row;
    * the expiry deadline is `idleExpiry` past `anchorMs(state, the
    * batch's last event ms)`; on expiry `expire` may emit a final row. */
  private[streaming] def foldSeries[S <: Product : TypeTag, O <: Product : TypeTag](
      points: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      lateness: String, idleExpiry: String, finite: Boolean)(
      step: (String, S, Timestamp, Double) => (S, Option[O]),
      anchorMs: (S, Long) => Long,
      expire: (String, S) => Option[O] = (_: String, _: S) => None): DataFrame = {
    val v = col(valueCol).cast("double")
    val projected = points.select(col(keyCol).cast("string").as("k"),
      col(tsCol).as("t"),
      (if (finite) graft.tsdb.AggFunctions.cleanNumeric(v) else v).as("v"))
    (if (finite) projected.filter(col("v").isNotNull) else projected)
      .withWatermark("t", lateness)
      .as[(String, Timestamp, Double)](Encoders.tuple(Encoders.STRING,
        Encoders.TIMESTAMP, Encoders.scalaDouble))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[S, O](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[(String, Timestamp, Double)],
            state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val fin = state.getOption.flatMap(expire(key, _))
            state.remove()
            fin.iterator
          } else {
            var st = state.getOption.getOrElse(null.asInstanceOf[S])
            val batch = rows.toIndexedSeq.sortBy(_._2.getTime)
            val out = batch.flatMap { case (_, t, x) =>
              val (next, o) = step(key, st, t, x); st = next; o
            }
            if (st != null) {
              state.update(st)
              // event time; Spark clamps the deadline to >= watermark
              state.setTimeoutTimestamp(anchorMs(st, batch.last._2.getTime),
                idleExpiry)
            }
            out.iterator
          })(Encoders.product[S], Encoders.product[O])
      .toDF()
  }

  /** Running counter over one series: first sample, last (event ns,
    * value), sample count, reset-aware increase, resets and changes. */
  case class Counter(firstNs: Long, firstV: Double, lastNs: Long,
      lastV: Double, n: Long, inc: Double, resets: Long, changes: Long) {
    /** A fresh counter holding `v` and the one pair (last → v) — the
      * pair crossing a window boundary lands in the later window. */
    def across(tNs: Long, v: Double, counterReset: Boolean = true): Counter =
      Counter(tNs, v, tNs, v, 1L, if (counterReset && v < lastV) v else v - lastV,
        if (v < lastV) 1L else 0L, if (v != lastV) 1L else 0L)
    /** This counter after a later sample: the pair (last → v) counts. */
    def add(tNs: Long, v: Double, counterReset: Boolean = true): Counter = {
      val pair = across(tNs, v, counterReset)
      Counter(firstNs, firstV, tNs, v, n + 1, inc + pair.inc,
        resets + pair.resets, changes + pair.changes)
    }
  }
  object Counter {
    def start(tNs: Long, v: Double): Counter = Counter(tNs, v, tNs, v, 1L, 0.0, 0L, 0L)
  }

  case class CounterRow(series_key: String, ts: Timestamp, value: Double,
      n_points: Long, delta: Double, increase: Double, resets: Long,
      changes: Long)

  /** The running counter fold behind [[runningDelta]] and
    * [[transitions]]: each arriving finite point emits the series'
    * counter so far. A series' first point emits (n=1, 0, 0); late rows
    * (at or before the last seen event time) are dropped. */
  private def runningCounter(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, counterReset: Boolean, lateness: String,
      idleExpiry: String): DataFrame =
    foldSeries[Counter, CounterRow](points, keyCol, tsCol, valueCol, lateness,
      idleExpiry, finite = true)(
      (key, st, t, v) => {
        val tNs = t.getTime * 1000000L
        if (st != null && tNs <= st.lastNs) (st, None)
        else {
          val c = if (st == null) Counter.start(tNs, v) else st.add(tNs, v, counterReset)
          (c, Some(CounterRow(key, t, v, c.n, v - c.firstV, c.inc, c.resets,
            c.changes)))
        }
      },
      anchorMs = (c, _) => c.lastNs / 1000000L)

  /** Running whole-range change per live series — the streaming twin of
    * [[graft.tsdb.TsAnalytics.rangeDelta]]: each arriving point emits the
    * series' running `n_points`, gauge `delta` (value − first value) and
    * counter-reset-aware `increase`, so a dashboard watches counters
    * grow live instead of re-scanning. NaN/±Inf are not samples (the
    * batch operator's cleanNumeric), so after any in-order prefix the
    * LAST emitted row per series equals the batch operator's row over
    * that prefix (spec-pinned parity). */
  def runningDelta(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, counterReset: Boolean = true,
      lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame =
    runningCounter(points, keyCol, tsCol, valueCol, counterReset, lateness,
      idleExpiry)
      .select(col("series_key"), col("ts"), col("value"), col("n_points"),
        col("delta"), col("increase"))

  /** Streaming counter-transition counts — the streaming twin of
    * [[graft.tsdb.TsAnalytics.transitions]] (PromQL `resets`/`changes`):
    * each arriving point emits the series' running reset count (pairs
    * whose value decreased) and change count (pairs that differed).
    * Counts are exact longs — after any in-order prefix the LAST emitted
    * row per series equals the batch operator's row over that prefix
    * BIT-identically (spec-pinned). */
  def transitions(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame =
    runningCounter(points, keyCol, tsCol, valueCol, counterReset = true,
      lateness, idleExpiry)
      .select(col("series_key"), col("ts"), col("value"), col("n_points"),
        col("resets"), col("changes"))

  case class Smoothed(series_key: String, ts: Timestamp, value: Double,
      level: Double, trend: Double, forecast: Double)

  /** Holt level/trend state per live series. */
  case class LT(level: Double, trend: Double)

  /** Streaming Holt linear-trend smoothing — the streaming twin of
    * [[graft.tsdb.TsAnalytics.holtSmooth]]. State per live series is TWO
    * doubles (level, trend). Identical recurrence
    * (`l' = α·v + (1−α)(l+b)`, `b' = β(l'−l) + (1−β)b`, seeded l=v, b=0)
    * in identical IEEE order, so values match bit-for-bit. */
  def smooth(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, alpha: Double, beta: Double,
      lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta > 0 && beta <= 1,
      s"alpha/beta must be in (0, 1], got $alpha/$beta")
    foldSeries[LT, Smoothed](points, keyCol, tsCol, valueCol, lateness,
      idleExpiry, finite = false)(
      (key, st, t, v) => {
        val next =
          if (st == null) LT(v, 0.0)
          else {
            val nl = alpha * v + (1 - alpha) * (st.level + st.trend)
            LT(nl, beta * (nl - st.level) + (1 - beta) * st.trend)
          }
        (next, Some(Smoothed(key, t, v, next.level, next.trend,
          next.level + next.trend)))
      },
      anchorMs = (_, batchMs) => batchMs)
  }

  case class TrendRow(series_key: String, ts: Timestamp, value: Double,
      n_points: Long, slope_per_sec: Option[Double], predicted: Option[Double])

  /** Running least-squares state: moment sums over (t_sec − t₀, v) with
    * t₀ = the series' first event time (conditioning anchor), plus the
    * last (ts ms, value) — O(1) per live series. */
  case class TrendSt(t0Ms: Long, n: Long, st: Double, sv: Double,
      stv: Double, stt: Double, tMs: Long, v: Double)

  /** Streaming linear trend + horizon forecast — the streaming twin of
    * [[graft.tsdb.TsAnalytics.predictLinear]]: each arriving finite point
    * updates the series' running moment sums (O(1) state, no window) and
    * emits the current slope and the value forecast `horizon` past the
    * point. Slope needs ≥ 2 points and positive time variance (else
    * None). NaN/±Inf are not samples (cleanNumeric parity), so after an
    * in-order prefix the last emitted row per series matches the batch
    * operator within FP re-association (the batch anchors t at the query
    * start, this anchors at the series' first point — slope/forecast are
    * origin-invariant). */
  def trend(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, horizonSec: Double = 3600.0,
      lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame = {
    require(horizonSec >= 0, "horizon must be non-negative")
    foldSeries[TrendSt, TrendRow](points, keyCol, tsCol, valueCol, lateness,
      idleExpiry, finite = true)(
      (key, st0, ts, v) => {
        val tMs = ts.getTime
        if (st0 != null && tMs <= st0.tMs) (st0, None)
        else {
          val prev = if (st0 == null) TrendSt(tMs, 0L, 0.0, 0.0, 0.0, 0.0, tMs, v) else st0
          val t = (tMs - prev.t0Ms) / 1000.0
          val st = TrendSt(prev.t0Ms, prev.n + 1, prev.st + t, prev.sv + v,
            prev.stv + t * v, prev.stt + t * t, tMs, v)
          val n = st.n.toDouble
          val mt = st.st / n; val mv = st.sv / n
          val varT = st.stt / n - mt * mt
          val slope =
            if (st.n >= 2 && varT > 0) Some((st.stv / n - mt * mv) / varT)
            else None
          val predicted = slope.map(s => mv + s * (t + horizonSec - mt))
          (st, Some(TrendRow(key, ts, v, st.n, slope, predicted)))
        }
      },
      anchorMs = (st, _) => st.tMs)
  }

  case class Rated(series_key: String, ts: Timestamp, value: Double,
      delta: Double, rate_per_sec: Double)

  /** Last observed (event-time ms, value) per live series. */
  case class LastPt(tMs: Long, v: Double)

  /** Streaming per-second rate — the streaming twin of
    * [[graft.tsdb.TsAnalytics.rate]] (PromQL `rate` contract, counter
    * resets clamped to the new value). State per live series is ONE
    * (timestamp, value) pair. The first point of a series (or after idle
    * expiry) emits nothing, matching the batch contract's
    * range-internal-predecessor rule; duplicate timestamps emit nothing
    * (the batch twin's merged view can't produce dt = 0) but replace the
    * held value. Arithmetic mirrors the batch operator in ns
    * (`delta · 1e9 / dtNs`), so for ms-aligned event times the values
    * match bit-for-bit. */
  def rate(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, counterReset: Boolean = true,
      lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame =
    foldSeries[LastPt, Rated](points, keyCol, tsCol, valueCol, lateness,
      idleExpiry, finite = false)(
      (key, prev, t, v) => {
        val tMs = t.getTime
        val emitted =
          if (prev == null || tMs <= prev.tMs) None
          else {
            val delta = if (counterReset && v < prev.v) v else v - prev.v
            val dtNs = (tMs - prev.tMs) * 1000000L
            Some(Rated(key, t, v, delta, delta * 1e9 / dtNs.toDouble))
          }
        (if (prev == null || tMs >= prev.tMs) LastPt(tMs, v) else prev, emitted)
      },
      anchorMs = (prev, _) => prev.tMs)

  case class Scored(series_key: String, ts: Timestamp, value: Double,
      mean: Option[Double], stddev: Option[Double], z: Option[Double],
      is_anomaly: Boolean)

  /** Trailing ring, oldest first, capped at lookback. */
  case class Ring(vals: Vector[Double])

  /** Streaming rolling z-score — the streaming twin of
    * [[graft.tsdb.TsAnalytics.rollingZScore]]. `points` must carry
    * (`keyCol`: string, `tsCol`: TimestampType event time, `valueCol`:
    * numeric); emits one [[Scored]] row per input point in Append mode.
    * State per live series is ONE ring of the trailing `lookback` values.
    * Each point is scored against the `lookback` points BEFORE it (self
    * excluded), only once `minPoints` predecessors exist and the
    * trailing sample stddev is non-degenerate; a late row that crosses
    * micro-batches is scored against the state at arrival. */
  def score(points: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, lookback: Int = 20, minPoints: Int = 5,
      threshold: Double = 3.0, lateness: String = "10 minutes",
      idleExpiry: String = "1 hour"): DataFrame = {
    require(lookback >= 2 && minPoints >= 2 && minPoints <= lookback,
      s"need 2 <= minPoints <= lookback, got lookback=$lookback minPoints=$minPoints")
    foldSeries[Ring, Scored](points, keyCol, tsCol, valueCol, lateness,
      idleExpiry, finite = false)(
      (key, ring, t, v) => {
        val win = if (ring == null) Vector.empty[Double] else ring.vals
        val n = win.size
        val scored =
          if (n >= minPoints) {
            val mean = win.sum / n
            val sd = math.sqrt(
              win.map(x => (x - mean) * (x - mean)).sum / (n - 1))
            if (sd > 1e-12) Some((mean, sd, (v - mean) / sd)) else None
          } else None
        (Ring((win :+ v).takeRight(lookback)),
          Some(Scored(key, t, v, scored.map(_._1), scored.map(_._2),
            scored.map(_._3), scored.exists(s => math.abs(s._3) > threshold))))
      },
      anchorMs = (_, batchMs) => batchMs)
  }
}
