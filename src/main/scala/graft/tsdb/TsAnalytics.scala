package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-to-point time-series analytics over the merged view — the
  * operators every TSDB in the reference's family exposes on top of raw
  * scans (PromQL `rate`/`delta`, monitoring anomaly bands). The reference
  * itself stops at whole-window aggregation (`iterator/agg_helpers.go`);
  * these are extensions, built the same way as the engine's query
  * pipeline: metric/tag/time filters that reach the parquet scan, then
  * per-series ordered window functions.
  *
  * Plan shape at 100 TB: one hash exchange on series_key (the window
  * partition), sort within partitions by timestamp, narrow lag/rolling
  * computations — no joins, no driver collection. Like any ordered
  * per-series scan (sessionize included) a single pathologically hot
  * series serializes into one task BY DEFAULT; `rate`, `timeWeightedAvg`,
  * `ewmaSmooth` and `holtSmooth` take `splitNs` to escape it — time-range
  * splitting via [[sliceChunked]] with O(1)-per-chunk boundary recompute
  * (lag/lead patched from a per-chunk summary; the linear smoothers
  * compose per-chunk transit maps with [[graft.functions.ChainFold]] /
  * [[graft.functions.ChainFold2]]). The lag/lead family is bit-identical
  * under the split; the smoothers agree to 1e-9 relative (FP
  * re-association) — all spec-pinned in `TsSplitSpec`.
  */
object TsAnalytics {

  /** Sentinel for `SPLIT AUTO` on the NBQL surface: the engine resolves
    * it to [[autoSplitNs]] over the query's actual time range before any
    * analytic sees it (`TsdbEngine.analyze`) — the same
    * derive-from-data-not-config contract as IVF's auto `nlist` and the
    * range-join rewrite's AUTO bin width. */
  val SplitAuto: Long = -1L

  /** `SPLIT AUTO` width: span / (4 × parallelism), floored at 1 s.
    * ~4 chunks per core bounds straggler skew while keeping the
    * |series|×|chunks| summary frame tiny; the floor keeps chunks ≫
    * point cadence so the boundary recompute stays O(chunks). Scale
    * shape: width grows WITH the queried span, so chunk count — and the
    * summary frame — stays constant as ranges grow 100×. */
  def autoSplitNs(startNs: Long, endNs: Long, parallelism: Int): Long = {
    val span = math.max(1L, endNs - startNs)
    math.max(1000000000L, span / math.max(1L, 4L * parallelism.toLong))
  }

  /** Series-resolved, time-ranged, latest-version-merged slice with a
    * numeric `__v` column for `field` — the shared front half.
    *
    * One explicit repartition on series_key ALONE, and both windows ride
    * it: the dedup window's ClusteredDistribution(series_key, timestamp)
    * is satisfied because the partitioning expressions are a subset of
    * its clustering, and every downstream per-series analytics window
    * partitions by series_key exactly — so the whole family
    * (rate/z-score/running/ewma/twa) runs off a SINGLE hash exchange
    * (plan-pinned). The trade vs the engine's time-salted key: a
    * pathologically hot series lands in one task — but an ordered
    * per-series scan serializes that series anyway (header note), so the
    * salt would only move the cost, not remove it. */
  private[graft] def slice(points: DataFrame, p: QueryParams, field: String,
      tombstones: Seq[Tombstone]): DataFrame = {
    var df = points.filter(TagMatch.metricPred(p.metric))
    p.tags.foreach { case (k, v) => df = df.filter(TagMatch.pred(k, v)) }
    val (startNs, endNs) = QueryEngine.resolveRange(df, p, tombstones)
    df = QueryEngine.withSeriesKey(df.filter(col("timestamp").between(startNs, endNs)))
    df = df.repartition(col("series_key"))
    val w = Window.partitionBy(col("series_key"), col("timestamp"))
      .orderBy(col("seq").desc)
    df = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    QueryEngine.applyValueFilter(
        QueryEngine.applyTombstones(df, tombstones), p)
      .withColumn("__v", QueryEngine.numericOf(field))
  }

  /** [[slice]] with HOT-SERIES TIME-SPLITTING: rows additionally carry
    * `__chunk` (timestamp − timestamp % splitNs) and the exchange keys
    * on (series_key, __chunk) — one pathological series spreads over
    * ⌈span/splitNs⌉ tasks instead of serializing into one (the same
    * skew move as the engine's time-salted query path,
    * `QueryEngine.partitionedInput`). The latest-version dedup window
    * adds __chunk to its partition keys — a pure function of timestamp,
    * so semantics are unchanged and the window rides the SAME exchange
    * (partitioning (series_key, __chunk) ⊆ its clustering). Operators
    * downstream window per (series_key, __chunk) and recompute the O(1)
    * chunk-boundary rows from a tiny per-chunk summary frame — see
    * [[rate]]/[[timeWeightedAvg]], whose split results are
    * BIT-IDENTICAL to the unsplit plan (spec-pinned): same rows, same
    * per-row operands, same arithmetic — only the task layout differs. */
  private[graft] def sliceChunked(points: DataFrame, p: QueryParams,
      field: String, tombstones: Seq[Tombstone], splitNs: Long): DataFrame = {
    require(splitNs > 0, s"splitNs must be positive, got $splitNs")
    var df = points.filter(TagMatch.metricPred(p.metric))
    p.tags.foreach { case (k, v) => df = df.filter(TagMatch.pred(k, v)) }
    val (startNs, endNs) = QueryEngine.resolveRange(df, p, tombstones)
    df = QueryEngine.withSeriesKey(df.filter(col("timestamp").between(startNs, endNs)))
    df = df.withColumn("__chunk",
        col("timestamp") - pmod(col("timestamp"), lit(splitNs)))
      .repartition(col("series_key"), col("__chunk"))
    val w = Window.partitionBy(col("series_key"), col("__chunk"), col("timestamp"))
      .orderBy(col("seq").desc)
    df = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    QueryEngine.applyValueFilter(
        QueryEngine.applyTombstones(df, tombstones), p)
      .withColumn("__v", QueryEngine.numericOf(field))
  }

  /** Per-series instantaneous rate of change in units/second between
    * consecutive points (PromQL `rate`-style). With `counterReset = true`
    * a decrease is treated as a counter reset: the delta is the new value
    * itself (the counter restarted from 0), never negative. The first
    * point of each series has no predecessor and emits no row; a rate is
    * computed only WITHIN the scanned range (the point before `startNs`
    * is deliberately not consulted — same contract as PromQL's window).
    *
    * `splitNs`: hot-series time-splitting ([[sliceChunked]]). The lag
    * runs per (series, chunk) and each chunk's FIRST row takes its
    * predecessor from a per-chunk summary (the previous non-empty
    * chunk's last (ts, value), one tiny window over |series|×|chunks|
    * rows) — bit-identical output to the unsplit plan, multi-task even
    * for a single series. Pick splitNs ≫ the typical point interval so
    * chunks hold many rows (e.g. 1h–1d).
    *
    * Output: metric, tags, series_key, timestamp, value, delta,
    * rate_per_sec, ordered by (series_key, timestamp). */
  def rate(points: DataFrame, p: QueryParams, field: String = "value",
      counterReset: Boolean = true,
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    val rawDelta = col("__v") - col("__pv")
    val delta =
      if (counterReset) when(col("__v") < col("__pv"), col("__v")).otherwise(rawDelta)
      else rawDelta
    val dt = col("timestamp") - col("__pt")
    val withPrev = laggedSlice(points, p, field, tombstones, splitNs,
      dropNullValues = false)
    withPrev
      .filter(col("__pt").isNotNull && col("__pv").isNotNull)
      .withColumn("delta", delta)
      // merged view guarantees distinct timestamps per series, so dt > 0;
      // the guard keeps ANSI mode unconditionally safe
      .withColumn("rate_per_sec",
        col("delta") * lit(1e9) / when(dt =!= 0L, dt.cast("double")))
      .select(col("metric"), col("tags"), col("series_key"), col("timestamp"),
        col("__v").as("value"), col("delta"), col("rate_per_sec"))
      .orderBy(col("series_key"), col("timestamp"))
  }

  /** Slice (plain or hot-series-chunked) with each row's per-series
    * predecessor `(__pt, __pv)` attached — the lag machinery behind
    * [[rate]], [[rangeDelta]] and [[irate]]. With `dropNullValues` rows
    * whose numeric value is null are removed BEFORE the lag, so the
    * predecessor is the previous numeric sample (PromQL sample
    * semantics); without it, null-valued rows flow through as ordinary
    * predecessors ([[rate]]'s contract). */
  private def laggedSlice(points: DataFrame, p: QueryParams, field: String,
      tombstones: Seq[Tombstone], splitNs: Option[Long],
      dropNullValues: Boolean): DataFrame = {
    def prep(df: DataFrame): DataFrame =
      if (dropNullValues) df.filter(col("__v").isNotNull) else df
    splitNs match {
      case None =>
        val df = prep(slice(points, p, field, tombstones))
        val w = Window.partitionBy(col("series_key")).orderBy(col("timestamp"))
        df.select(col("*"),
          lag(col("__v"), 1).over(w).as("__pv"),
          lag(col("timestamp"), 1).over(w).as("__pt"))
      case Some(sw) =>
        val df = prep(sliceChunked(points, p, field, tombstones, sw))
        val wc = Window.partitionBy(col("series_key"), col("__chunk"))
          .orderBy(col("timestamp"))
        // per-(series, chunk) LAST row — the predecessor of the next
        // non-empty chunk's first row (summary frame: |series|×|chunks|
        // rows; lag(1) over the summary IS the nearest non-empty chunk,
        // empty chunks simply have no summary row)
        val bounds = df.groupBy(col("series_key"), col("__chunk"))
          .agg(max_by(struct(col("timestamp").as("t"), col("__v").as("v")),
            col("timestamp")).as("__last"))
          .withColumn("__prev", lag(col("__last"), 1).over(
            Window.partitionBy(col("series_key")).orderBy(col("__chunk"))))
          .select(col("series_key"), col("__chunk"),
            col("__prev").getField("t").as("__bpt"),
            col("__prev").getField("v").as("__bpv"))
        // only a chunk's FIRST row patches from the boundary: a null
        // in-chunk lag value on later rows means a null-valued
        // predecessor ROW, which must stay null (unsplit semantics).
        // (column-batched selects — not chained withColumn — so the
        // analyzer runs once per batch, r17)
        df.select(col("*"),
            lag(col("__v"), 1).over(wc).as("__pv0"),
            lag(col("timestamp"), 1).over(wc).as("__pt0"),
            row_number().over(wc).as("__rn1"))
          .join(bounds, Seq("series_key", "__chunk"), "left")
          .select(col("*"),
            when(col("__rn1") === 1, col("__bpv")).otherwise(col("__pv0")).as("__pv"),
            when(col("__rn1") === 1, col("__bpt")).otherwise(col("__pt0")).as("__pt"))
    }
  }

  /** Counter-reset-aware consecutive delta ([[rate]]'s core). */
  private def pairDelta(counterReset: Boolean): Column = {
    val rawDelta = col("__v") - col("__pv")
    if (counterReset) when(col("__v") < col("__pv"), col("__v")).otherwise(rawDelta)
    else rawDelta
  }

  /** Per-series whole-range change (PromQL `delta` + `increase`, without
    * range-edge extrapolation): `delta` = last − first numeric value in
    * the scanned range (gauge semantics, may be negative); `increase` =
    * Σ counter-reset-aware consecutive deltas (counter semantics — a
    * decrease means the counter restarted, so that pair contributes the
    * new value; never negative). A single-sample series has delta 0 and
    * increase 0. Null-valued rows are not samples and are skipped
    * entirely (unlike [[rate]], which surfaces them as null-rate gaps).
    *
    * Plan: one lag exchange on series_key (hot-series-splittable via
    * `splitNs`, the same boundary-patched machinery as [[rate]]) feeding
    * a partially-aggregated groupBy whose shuffle carries one row per
    * series.
    *
    * Output: metric, tags, series_key, n_points, first_ts, last_ts,
    * delta, increase — one row per series, ordered by series_key. */
  def rangeDelta(points: DataFrame, p: QueryParams, field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    laggedSlice(points, p, field, tombstones, splitNs, dropNullValues = true)
      .groupBy(col("series_key"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        count(lit(1)).as("n_points"),
        min(col("timestamp")).as("first_ts"), max(col("timestamp")).as("last_ts"),
        min_by(col("__v"), col("timestamp")).as("__fv"),
        max_by(col("__v"), col("timestamp")).as("__lv"),
        sum(when(col("__pv").isNotNull, pairDelta(counterReset = true)))
          .as("__inc"))
      .select(col("metric"), col("tags"), col("series_key"), col("n_points"),
        col("first_ts"), col("last_ts"),
        (col("__lv") - col("__fv")).as("delta"),
        coalesce(col("__inc"), lit(0.0)).as("increase"))
      .orderBy(col("series_key"))
  }

  /** Per-series WINDOWED change (`ANALYZE DELTA(f) BY <dur>` — the
    * daily-counter-increase dashboard): tumbling epoch-aligned windows,
    * each carrying its sample count, its gauge delta (last − first
    * numeric value WITHIN the window), and its counter increase with
    * CONTINUOUS-COUNTER semantics — a consecutive pair contributes to
    * the window of its LATER point, so the pair crossing midnight lands
    * in the new day and window increases sum exactly to the whole-range
    * [[rangeDelta]] increase (spec-pinned). Same lag machinery and
    * `splitNs` contract as [[rate]].
    *
    * Output: metric, tags, series_key, window_start, n_points, delta,
    * increase, ordered by (series_key, window_start). */
  def windowedDelta(points: DataFrame, p: QueryParams, windowNs: Long,
      field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    require(windowNs > 0, "windowedDelta window must be positive")
    laggedSlice(points, p, field, tombstones, splitNs, dropNullValues = true)
      .withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(windowNs)))
      .groupBy(col("series_key"), col("window_start"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        count(lit(1)).as("n_points"),
        min_by(col("__v"), col("timestamp")).as("__fv"),
        max_by(col("__v"), col("timestamp")).as("__lv"),
        sum(when(col("__pv").isNotNull, pairDelta(counterReset = true)))
          .as("__inc"))
      .select(col("metric"), col("tags"), col("series_key"),
        col("window_start"), col("n_points"),
        (col("__lv") - col("__fv")).as("delta"),
        coalesce(col("__inc"), lit(0.0)).as("increase"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** Per-series instantaneous rate (PromQL `irate`): the [[rate]] of the
    * LAST two numeric samples of each series in range — the right shape
    * for "current speed" dashboards where [[rate]] over the window is
    * too smooth. Series with fewer than two samples emit no row.
    *
    * Output: metric, tags, series_key, timestamp (of the last sample),
    * value, delta, rate_per_sec — one row per series. */
  def irate(points: DataFrame, p: QueryParams, field: String = "value",
      counterReset: Boolean = true,
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    val dt = col("timestamp") - col("__pt")
    laggedSlice(points, p, field, tombstones, splitNs, dropNullValues = true)
      .filter(col("__pt").isNotNull && col("__pv").isNotNull)
      .withColumn("__delta", pairDelta(counterReset))
      .withColumn("__rate",
        col("__delta") * lit(1e9) / when(dt =!= 0L, dt.cast("double")))
      .groupBy(col("series_key"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        max_by(struct(col("timestamp").as("t"), col("__v").as("v"),
          col("__delta").as("d"), col("__rate").as("r")), col("timestamp"))
          .as("__l"))
      .select(col("metric"), col("tags"), col("series_key"),
        col("__l").getField("t").as("timestamp"),
        col("__l").getField("v").as("value"),
        col("__l").getField("d").as("delta"),
        col("__l").getField("r").as("rate_per_sec"))
      .orderBy(col("series_key"))
  }

  /** Per-series counter-transition counts (PromQL `resets` + `changes`):
    * over consecutive NUMERIC sample pairs within the scanned range,
    * `resets` counts pairs whose value DECREASED (the counter restarted)
    * and `changes` counts pairs with differing values — a reset is
    * always also a change. Null-valued rows are not samples (skipped
    * before the lag, like [[rangeDelta]]); a single-sample series has
    * both counts 0; the pair crossing `startNs` is deliberately out of
    * scope (range-internal, PromQL's window contract). Counts are exact
    * longs, so the rollup decomposition ([[Rollup.runTransitions]]) and
    * the `splitNs` boundary patch are BIT-identical, not ulp-level.
    *
    * Plan: the shared [[rate]] lag exchange feeding a partially
    * aggregated groupBy carrying one row per series.
    *
    * Output: metric, tags, series_key, n_points, resets, changes — one
    * row per series, ordered by series_key. */
  def transitions(points: DataFrame, p: QueryParams, field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    laggedSlice(points, p, field, tombstones, splitNs, dropNullValues = true)
      .groupBy(col("series_key"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        count(lit(1)).as("n_points"),
        count(when(col("__pv").isNotNull && col("__v") < col("__pv"), lit(1)))
          .as("resets"),
        count(when(col("__pv").isNotNull && col("__v") =!= col("__pv"), lit(1)))
          .as("changes"))
      .select(col("metric"), col("tags"), col("series_key"), col("n_points"),
        col("resets"), col("changes"))
      .orderBy(col("series_key"))
  }

  /** Per-series WINDOWED counter-transition counts (`ANALYZE RESETS(f)
    * BY <dur>` / `CHANGES(f) BY <dur>` — "restarts per day" dashboards):
    * tumbling epoch-aligned windows, each carrying its sample count and
    * its reset/change counts with CONTINUOUS-COUNTER semantics — a
    * consecutive pair contributes to the window of its LATER point, so
    * the pair crossing midnight lands in the new day and window counts
    * sum exactly to the whole-range [[transitions]] counts. Exact
    * longs; same lag machinery and `splitNs` contract as
    * [[windowedDelta]].
    *
    * Output: metric, tags, series_key, window_start, n_points, resets,
    * changes, ordered by (series_key, window_start). */
  def windowedTransitions(points: DataFrame, p: QueryParams, windowNs: Long,
      field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    require(windowNs > 0, "windowedTransitions window must be positive")
    laggedSlice(points, p, field, tombstones, splitNs, dropNullValues = true)
      .withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(windowNs)))
      .groupBy(col("series_key"), col("window_start"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        count(lit(1)).as("n_points"),
        count(when(col("__pv").isNotNull && col("__v") < col("__pv"), lit(1)))
          .as("resets"),
        count(when(col("__pv").isNotNull && col("__v") =!= col("__pv"), lit(1)))
          .as("changes"))
      .select(col("metric"), col("tags"), col("series_key"),
        col("window_start"), col("n_points"), col("resets"), col("changes"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** Per-series least-squares trend + horizon forecast (PromQL
    * `predict_linear`): fit `v ≈ intercept + slope·t` over the scanned
    * range and evaluate it `horizonNs` past the series' LAST sample.
    * `t` is seconds relative to `p.startNs` so the moment sums stay
    * well-conditioned in double. Series with < 2 samples, or with zero
    * time variance, have null slope/prediction.
    *
    * The ANALYTIC needs no ordered window — the moments are plain
    * commutative aggregates, one map-side-combined groupBy. The
    * latest-version merge dedup upstream DOES window per series, so a
    * single mega-series still serializes THERE: `splitNs` routes the
    * slice through [[sliceChunked]] (dedup keys on (series, timestamp),
    * so per-(series, chunk) dedup picks bit-identical rows and no
    * boundary recompute is needed; the commutative moment sums merge in
    * a different order — 1e-9-relative like [[ewmaSmooth]]'s split).
    *
    * Output: metric, tags, series_key, n_points, last_ts, slope_per_sec,
    * predicted — one row per series, ordered by series_key. */
  def predictLinear(points: DataFrame, p: QueryParams, horizonNs: Long,
      field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    require(horizonNs >= 0, "predictLinear horizon must be non-negative")
    val df = (splitNs match {
      case Some(sw) => sliceChunked(points, p, field, tombstones, sw)
      case None => slice(points, p, field, tombstones)
    }).filter(col("__v").isNotNull)
    val tSec = (col("timestamp") - lit(p.startNs)).cast("double") / lit(1e9)
    val g = df.withColumn("__t", tSec)
      .groupBy(col("series_key"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        count(lit(1)).as("n_points"), max(col("timestamp")).as("last_ts"),
        avg(col("__t")).as("__mt"), avg(col("__v")).as("__mv"),
        avg(col("__t") * col("__v")).as("__mtv"),
        avg(col("__t") * col("__t")).as("__mtt"))
    val varT = col("__mtt") - col("__mt") * col("__mt")
    val slope = when(col("n_points") >= 2 && varT > 0,
      (col("__mtv") - col("__mt") * col("__mv")) / varT)
    val targetT =
      (col("last_ts") - lit(p.startNs) + lit(horizonNs)).cast("double") / lit(1e9)
    g.withColumn("slope_per_sec", slope)
      .withColumn("predicted",
        col("__mv") + col("slope_per_sec") * (targetT - col("__mt")))
      .select(col("metric"), col("tags"), col("series_key"), col("n_points"),
        col("last_ts"), col("slope_per_sec"), col("predicted"))
      .orderBy(col("series_key"))
  }

  /** Per-series TIME-weighted average over epoch-aligned tumbling windows
    * (Influx `integral`/Timescale `time_weight('LOCF')` family). Plain
    * `avg` over-counts burst samples: a sensor that reports 100× faster
    * during an incident dominates the hourly mean. Here each point's
    * value is weighted by how long it REMAINED current — until the next
    * point of the same series or the window edge, whichever first
    * (last-observation-carried-forward; nothing is carried INTO a window
    * from before its first point, the same range-internal contract as
    * [[rate]]).
    *
    * twa = Σ vᵢ·wᵢ / Σ wᵢ with wᵢ = min(tᵢ₊₁, window_end) − tᵢ, all in
    * ns. Weights are positive because window membership means
    * tᵢ < window_end.
    *
    * Plan: lead() over one series_key exchange, then a partial-agg
    * groupBy whose final shuffle carries only |series|×windows rows.
    *
    * Output: metric, tags, series_key, window_start, twa, n_points. */
  def timeWeightedAvg(points: DataFrame, p: QueryParams,
      field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    val interval = p.downsampleNs.getOrElse(
      throw new IllegalArgumentException("timeWeightedAvg needs downsampleNs"))
    val wStart = col("timestamp") - pmod(col("timestamp"), lit(interval))
    val wEnd = col("window_start") + lit(interval)
    // `splitNs`: hot-series time-splitting, the lead()-mirrored analog of
    // [[rate]]'s split — a chunk's LAST row takes its successor timestamp
    // from the next non-empty chunk's per-chunk minimum. Timestamps are
    // never null, so coalesce patches exactly the one lead-null row per
    // chunk; bit-identical weights to the unsplit plan (spec-pinned).
    val withNext = splitNs match {
      case None =>
        val df = slice(points, p, field, tombstones).filter(col("__v").isNotNull)
        val w = Window.partitionBy(col("series_key")).orderBy(col("timestamp"))
        df.withColumn("__nt", lead(col("timestamp"), 1).over(w))
      case Some(sw) =>
        val df = sliceChunked(points, p, field, tombstones, sw)
          .filter(col("__v").isNotNull)
        val wc = Window.partitionBy(col("series_key"), col("__chunk"))
          .orderBy(col("timestamp"))
        val bounds = df.groupBy(col("series_key"), col("__chunk"))
          .agg(min(col("timestamp")).as("__first"))
          .withColumn("__bnt", lead(col("__first"), 1).over(
            Window.partitionBy(col("series_key")).orderBy(col("__chunk"))))
          .select(col("series_key"), col("__chunk"), col("__bnt"))
        df.join(bounds, Seq("series_key", "__chunk"), "left")
          .withColumn("__nt",
            coalesce(lead(col("timestamp"), 1).over(wc), col("__bnt")))
    }
    withNext.withColumn("window_start", wStart)
      .withColumn("__w",
        (least(coalesce(col("__nt"), wEnd), wEnd) - col("timestamp")).cast("double"))
      // series_key determines (metric, tags): group on it and carry the
      // others with first() — grouping on a map-typed key would force the
      // aggregate off hash-based evaluation (same pattern as the engine's
      // downsample)
      .groupBy(col("series_key"), col("window_start"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        (sum(col("__v") * col("__w")) / sum(col("__w"))).as("twa"),
        count(lit(1)).as("n_points"))
      .select(col("metric"), col("tags"), col("series_key"), col("window_start"),
        col("twa"), col("n_points"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** Per-series running aggregates in timestamp order: cumulative sum,
    * running max, and the 1-based point index. One exchange + sort on
    * series_key; Spark evaluates the growing frame incrementally (one
    * buffer update per row), so the scan is O(n) per series. */
  def runningAggregates(points: DataFrame, p: QueryParams,
      field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    val out = splitNs match {
      case None =>
        val df = slice(points, p, field, tombstones).filter(col("__v").isNotNull)
        val w = Window.partitionBy(col("series_key")).orderBy(col("timestamp"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ord = Window.partitionBy(col("series_key")).orderBy(col("timestamp"))
        df.withColumn("cum_sum", sum(col("__v")).over(w))
          .withColumn("cum_max", max(col("__v")).over(w))
          .withColumn("point_index", row_number().over(ord))
      // Hot-series split: running sum/max/count are all chunk-composable
      // folds — in-chunk prefixes per (series, chunk), then a per-series
      // carry over the tiny chunk summary ([[graft.functions.ChainFold]]
      // with a = 1 for the sum, greatest() for the max, a plain count
      // carry for the index). cum_max and point_index are BIT-IDENTICAL
      // (max/count are associative); cum_sum re-associates the FP fold
      // like [[ewmaSmoothSplit]] — 1e-9 relative, spec-pinned.
      case Some(sw) =>
        val df = sliceChunked(points, p, field, tombstones, sw)
          .filter(col("__v").isNotNull)
        val wc = Window.partitionBy(col("series_key"), col("__chunk"))
          .orderBy(col("timestamp"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wcOrd = Window.partitionBy(col("series_key"), col("__chunk"))
          .orderBy(col("timestamp"))
        val wSeries = Window.partitionBy(col("series_key")).orderBy(col("__chunk"))
        val bounds = df.groupBy(col("series_key"), col("__chunk"))
          .agg(sum(col("__v")).as("__cs"), max(col("__v")).as("__cm"),
            count(lit(1)).as("__cn"))
          .withColumn("__sumCarry", graft.functions.WindowFunctions.chainFold(
            lit(1.0), col("__cs"), col("__cs"),
            partitionBy = Seq(col("series_key")), orderBy = Seq(col("__chunk"))))
          .withColumn("__maxCarry", max(col("__cm")).over(
            wSeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("__cntCarry", sum(col("__cn")).over(
            wSeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("series_key"), col("__chunk"),
            lag(col("__sumCarry"), 1).over(wSeries).as("__psum"),
            lag(col("__maxCarry"), 1).over(wSeries).as("__pmax"),
            coalesce(lag(col("__cntCarry"), 1).over(wSeries), lit(0L)).as("__pcnt"))
        df.join(bounds, Seq("series_key", "__chunk"), "left")
          .withColumn("cum_sum",
            sum(col("__v")).over(wc) + coalesce(col("__psum"), lit(0.0)))
          .withColumn("cum_max",
            greatest(max(col("__v")).over(wc), coalesce(col("__pmax"),
              max(col("__v")).over(wc))))
          .withColumn("point_index",
            (row_number().over(wcOrd) + col("__pcnt")).cast("int"))
    }
    out.select(col("metric"), col("tags"), col("series_key"), col("timestamp"),
        col("__v").as("value"), col("cum_sum"), col("cum_max"), col("point_index"))
      .orderBy(col("series_key"), col("timestamp"))
  }

  /** Per-series exponentially-weighted moving average via the native
    * [[graft.functions.Ewma]] window aggregate (seeded with the first
    * value; `ewma_t = α·v_t + (1−α)·ewma_{t−1}`). Same single-exchange
    * plan shape as [[runningAggregates]] — the recurrence runs inside
    * Spark's incremental window-frame evaluation, O(n) per series. */
  def ewmaSmooth(points: DataFrame, p: QueryParams, alpha: Double,
      field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    val out = splitNs match {
      case None =>
        val df = slice(points, p, field, tombstones).filter(col("__v").isNotNull)
        df.withColumn("ewma", graft.functions.WindowFunctions.ewma(col("__v"), alpha,
          partitionBy = Seq(col("series_key")), orderBy = Seq(col("timestamp"))))
      case Some(sw) => ewmaSmoothSplit(points, p, alpha, field, tombstones, sw)
    }
    out.select(col("metric"), col("tags"), col("series_key"), col("timestamp"),
        col("__v").as("value"), col("ewma"))
      .orderBy(col("series_key"), col("timestamp"))
  }

  /** Hot-series time-split EWMA. The recurrence is a LINEAR left fold, so
    * a chunk's effect on the running state is affine: with seed s and
    * chunk values v₁..vₘ, state-out = (1−α)^m·s + Q_m, where Q is the
    * SEED-ZERO in-chunk fold (Qⱼ = α·vⱼ + (1−α)·Qⱼ₋₁, Q₀ = 0) — and
    * per-row, ewmaⱼ = Qⱼ + (1−α)^j·s (for the series' first chunk the
    * seeded-first convention makes s = v₁ exactly). So the plan is:
    * in-chunk Q in parallel per (series, chunk) — the native [[
    * graft.functions.Ewma]] fold over each chunk prefixed with one
    * VIRTUAL zero row, which turns its seeded-first semantics into the
    * seed-zero fold — then the carry chain composed per series over the
    * tiny |series|×|chunks| summary with [[graft.functions.ChainFold]],
    * then one projection. A single hot series runs in ⌈span/splitNs⌉
    * tasks.
    *
    * NOT bit-identical to the unsplit fold, and cannot be: splitting a
    * floating-point left fold re-associates it (fl(Q + A·s) vs the
    * sequential update chain), which is exactly why the EXACT-split
    * family stops at lag/lead operators ([[rate]]/[[timeWeightedAvg]]).
    * Agreement is within a few ulps per chunk boundary (spec-pinned at
    * 1e-9 relative); the oracle battery keeps the unsplit path. */
  private def ewmaSmoothSplit(points: DataFrame, p: QueryParams, alpha: Double,
      field: String, tombstones: Seq[Tombstone], splitNs: Long): DataFrame = {
    val base = sliceChunked(points, p, field, tombstones, splitNs)
      .filter(col("__v").isNotNull)
      .select(col("metric"), col("tags"), col("series_key"), col("__chunk"),
        col("timestamp"), col("__v"), lit(false).as("__virtual"))
    // one zero-valued virtual row per (series, chunk), ordered FIRST
    // (__chunk − 1 < every real timestamp of the chunk): the seeded-first
    // native then seeds at 0 and computes the seed-zero fold Q on the
    // real rows. groupBy rides the (series_key, __chunk) partitioning.
    val virtualRows = base.groupBy(col("series_key"), col("__chunk"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"))
      .select(col("metric"), col("tags"), col("series_key"), col("__chunk"),
        (col("__chunk") - 1).as("timestamp"), lit(0.0).as("__v"),
        lit(true).as("__virtual"))
    val wc = Window.partitionBy(col("series_key"), col("__chunk"))
      .orderBy(col("timestamp"))
    val oneMinusA = lit(1.0 - alpha)
    val withQ = base.unionByName(virtualRows)
      .withColumn("__q", graft.functions.WindowFunctions.ewma(col("__v"), alpha,
        partitionBy = Seq(col("series_key"), col("__chunk")),
        orderBy = Seq(col("timestamp"))))
      .withColumn("__j", row_number().over(wc) - 1) // virtual row is j = 0
      .filter(!col("__virtual"))
    // per-chunk transit: A_m = (1−α)^m, Q_m, and the first value (the
    // seed of the series' first chunk); carry chain + lag give each
    // chunk its incoming state
    val bounds = withQ.groupBy(col("series_key"), col("__chunk"))
      .agg(max_by(col("__q"), col("timestamp")).as("__qm"),
        count(lit(1)).as("__m"),
        min_by(col("__v"), col("timestamp")).as("__vfirst"))
      .withColumn("__am", pow(oneMinusA, col("__m")))
      .withColumn("__carry", graft.functions.WindowFunctions.chainFold(
        col("__am"), col("__qm") + col("__am") * col("__vfirst"), col("__qm"),
        partitionBy = Seq(col("series_key")), orderBy = Seq(col("__chunk"))))
      .withColumn("__seed", lag(col("__carry"), 1).over(
        Window.partitionBy(col("series_key")).orderBy(col("__chunk"))))
      .select(col("series_key"), col("__chunk"),
        coalesce(col("__seed"), col("__vfirst")).as("__s"))
    withQ.join(bounds, Seq("series_key", "__chunk"), "left")
      .withColumn("ewma",
        col("__q") + pow(oneMinusA, col("__j")) * col("__s"))
  }

  /** Per-series Holt linear-trend smoothing via the native
    * [[graft.functions.HoltTrend]] window aggregate: level + trend per
    * point, one-step forecast = level + trend. Same single-exchange plan
    * as [[ewmaSmooth]]. */
  def holtSmooth(points: DataFrame, p: QueryParams, alpha: Double,
      beta: Double, field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    val smoothed = splitNs match {
      case None =>
        val df = slice(points, p, field, tombstones).filter(col("__v").isNotNull)
        df.withColumn("__h", graft.functions.WindowFunctions.holtTrend(col("__v"),
          alpha, beta, partitionBy = Seq(col("series_key")),
          orderBy = Seq(col("timestamp"))))
          .withColumn("__lvl", col("__h.level"))
          .withColumn("__trd", col("__h.trend"))
      case Some(sw) => holtSmoothSplit(points, p, alpha, beta, field, tombstones, sw)
    }
    smoothed
      .select(col("metric"), col("tags"), col("series_key"), col("timestamp"),
        col("__v").as("value"), col("__lvl").as("level"),
        col("__trd").as("trend"),
        (col("__lvl") + col("__trd")).as("forecast"))
      .orderBy(col("series_key"), col("timestamp"))
  }

  /** Hot-series time-split Holt smoothing — the 2-d sibling of
    * [[ewmaSmoothSplit]]. Holt's recurrence is AFFINE with a constant
    * transition matrix: stateₜ = M·stateₜ₋₁ + cₜ with
    * M = [[1−α, 1−α], [−βα, 1−βα]], cₜ = (α·vₜ, βα·vₜ) (substitute the
    * level update into the trend update to see the second row). So a
    * chunk's effect on the (level, trend) state is state-out =
    * M^m·s + Q_m with Q the seed-zero in-chunk fold, and per-row
    * stateⱼ = Qⱼ + M^j·s. The plan mirrors the EWMA split exactly:
    * one virtual zero row per (series, chunk) turns the seeded-first
    * native [[graft.functions.HoltTrend]] into the seed-zero fold Qⱼ,
    * [[graft.functions.Mat2CumProd]] delivers M^j in the SAME window
    * pass, the per-chunk transit pairs (M^m, Q_m) compose per series
    * with [[graft.functions.ChainFold2]] over the tiny summary frame,
    * and a final projection applies stateⱼ = Qⱼ + M^j·s. The seed of a
    * series' FIRST chunk is (v₁, 0) — the fixed point of the native's
    * seeding convention (M·(v₁,0) + c₁ = (v₁, 0) when v = v₁).
    *
    * Like the EWMA split, NOT bit-identical (FP re-association);
    * spec-pinned at 1e-9 relative. */
  private def holtSmoothSplit(points: DataFrame, p: QueryParams, alpha: Double,
      beta: Double, field: String, tombstones: Seq[Tombstone],
      splitNs: Long): DataFrame = {
    import graft.functions.WindowFunctions.{holtTrend, mat2CumProd, chainFold2}
    val (m00, m01, m10, m11) =
      (1.0 - alpha, 1.0 - alpha, -beta * alpha, 1.0 - beta * alpha)
    val base = sliceChunked(points, p, field, tombstones, splitNs)
      .filter(col("__v").isNotNull)
      .select(col("metric"), col("tags"), col("series_key"), col("__chunk"),
        col("timestamp"), col("__v"), lit(false).as("__virtual"))
    val virtualRows = base.groupBy(col("series_key"), col("__chunk"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"))
      .select(col("metric"), col("tags"), col("series_key"), col("__chunk"),
        (col("__chunk") - 1).as("timestamp"), lit(0.0).as("__v"),
        lit(true).as("__virtual"))
    val chunkKeys = Seq(col("series_key"), col("__chunk"))
    val tsOrd = Seq(col("timestamp"))
    val withQ = base.unionByName(virtualRows)
      .withColumn("__q", holtTrend(col("__v"), alpha, beta,
        partitionBy = chunkKeys, orderBy = tsOrd))
      .withColumn("__p", mat2CumProd(col("__virtual"),
        lit(m00), lit(m01), lit(m10), lit(m11),
        partitionBy = chunkKeys, orderBy = tsOrd))
      .filter(!col("__virtual"))
    val wSeries = Window.partitionBy(col("series_key")).orderBy(col("__chunk"))
    val bounds = withQ.groupBy(col("series_key"), col("__chunk"))
      .agg(max_by(col("__q"), col("timestamp")).as("__qm"),
        max_by(col("__p"), col("timestamp")).as("__pm"),
        min_by(col("__v"), col("timestamp")).as("__vfirst"))
      .withColumn("__carry", chainFold2(
        col("__pm.p00"), col("__pm.p01"), col("__pm.p10"), col("__pm.p11"),
        col("__pm.p00") * col("__vfirst") + col("__qm.level"),
        col("__pm.p10") * col("__vfirst") + col("__qm.trend"),
        col("__qm.level"), col("__qm.trend"),
        partitionBy = Seq(col("series_key")), orderBy = Seq(col("__chunk"))))
      .withColumn("__seed", lag(col("__carry"), 1).over(wSeries))
      .select(col("series_key"), col("__chunk"),
        coalesce(col("__seed.l"), col("__vfirst")).as("__sl"),
        coalesce(col("__seed.t"), lit(0.0)).as("__st"))
    withQ.join(bounds, Seq("series_key", "__chunk"), "left")
      .withColumn("__lvl",
        col("__q.level") + col("__p.p00") * col("__sl") + col("__p.p01") * col("__st"))
      .withColumn("__trd",
        col("__q.trend") + col("__p.p10") * col("__sl") + col("__p.p11") * col("__st"))
  }

  /** Windowed EWMA (`ANALYZE EWMA(f, α) BY <dur>`): the [[ewmaSmooth]]
    * recurrence sampled at each tumbling epoch-aligned window's last
    * numeric sample — the reference downsampler's per-window emission
    * shape (`iterator/multi_field_downsampling_iterator.go:262-269`) for
    * a smoothed series at dashboard granularity instead of every raw
    * point. The windowing is a projection of the SAME fold, so the
    * rollup route ([[Rollup.runSmoothBy]]) serves it bit-identically.
    *
    * Output: metric, tags, series_key, window_start, n_points, last_ts,
    * value (last sample), ewma — ordered (series_key, window_start). */
  def ewmaSmoothBy(points: DataFrame, p: QueryParams, alpha: Double,
      windowNs: Long, field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    require(windowNs > 0, "EWMA BY window must be positive")
    ewmaSmooth(points, p, alpha, field, tombstones, splitNs)
      .withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(windowNs)))
      .groupBy(col("series_key"), col("window_start"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        count(lit(1)).as("n_points"),
        max(col("timestamp")).as("last_ts"),
        max_by(col("value"), col("timestamp")).as("value"),
        max_by(col("ewma"), col("timestamp")).as("ewma"))
      .select(col("metric"), col("tags"), col("series_key"),
        col("window_start"), col("n_points"), col("last_ts"),
        col("value"), col("ewma"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** Windowed Holt smoothing (`ANALYZE HOLT(f, α, β) BY <dur>`) — the
    * 2-d sibling of [[ewmaSmoothBy]]: level/trend/one-step forecast at
    * each window's last sample. Output: metric, tags, series_key,
    * window_start, n_points, last_ts, value, level, trend, forecast. */
  def holtSmoothBy(points: DataFrame, p: QueryParams, alpha: Double,
      beta: Double, windowNs: Long, field: String = "value",
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    require(windowNs > 0, "HOLT BY window must be positive")
    holtSmooth(points, p, alpha, beta, field, tombstones, splitNs)
      .withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(windowNs)))
      .groupBy(col("series_key"), col("window_start"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        count(lit(1)).as("n_points"),
        max(col("timestamp")).as("last_ts"),
        max_by(col("value"), col("timestamp")).as("value"),
        max_by(col("level"), col("timestamp")).as("level"),
        max_by(col("trend"), col("timestamp")).as("trend"),
        max_by(col("forecast"), col("timestamp")).as("forecast"))
      .select(col("metric"), col("tags"), col("series_key"),
        col("window_start"), col("n_points"), col("last_ts"),
        col("value"), col("level"), col("trend"), col("forecast"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** Cross-metric Pearson correlation: align metric A and B per tag value
    * on tumbling buckets (per-bucket avg), then correlate the paired
    * bucket series. ONE scan reads both metrics (`metric IN (a, b)`) —
    * no self-join; the pivot is conditional aggregation, so the plan is
    * two partial-agg groupBys and nothing wider than
    * |tags|×buckets rows after the first.
    *
    * Only buckets where BOTH metrics observed points pair up; groups
    * with fewer than `minBuckets` pairs are dropped (a 2-point
    * correlation is always ±1 — noise, not signal).
    *
    * Output: tag_value, r (Pearson), n_buckets. */
  def correlate(points: DataFrame, metricA: String, metricB: String,
      tagKey: String, bucketNs: Long, startNs: Long, endNs: Long,
      field: String = "value", minBuckets: Int = 8,
      tombstones: Seq[Tombstone] = Nil): DataFrame = {
    require(metricA != metricB, "correlate needs two distinct metrics")
    val df = QueryEngine.mergedView(
        points.filter(col("metric").isin(metricA, metricB) &&
          col("timestamp").between(startNs, endNs)), tombstones)
      .withColumn("__v", QueryEngine.numericOf(field))
      .filter(col("__v").isNotNull)
    val bucket = col("timestamp") - pmod(col("timestamp"), lit(bucketNs))
    correlateFinish(df.withColumn("bucket", bucket)
      .withColumn("tag_value", col("tags").getItem(tagKey))
      .groupBy(col("tag_value"), col("bucket"))
      .agg(avg(when(col("metric") === metricA, col("__v"))).as("va"),
        avg(when(col("metric") === metricB, col("__v"))).as("vb")), minBuckets)
  }

  /** Final Pearson stage over a paired (tag_value, bucket, va, vb) frame —
    * shared by the point path and the rollup-partial route
    * ([[graft.tsdb.Rollup.bucketStats]]); the routing can therefore never
    * drift from the scan semantics. Pearson r from co-moments rather
    * than corr(): Spark's corr divides unconditionally inside the
    * aggregate, which throws under ANSI mode when one side has zero
    * variance; here the division is a guarded projection, and
    * zero-variance groups drop (matching SQL corr's NULL). */
  private[graft] def correlateFinish(paired: DataFrame,
      minBuckets: Int): DataFrame = {
    paired
      .filter(col("va").isNotNull && col("vb").isNotNull)
      .groupBy(col("tag_value"))
      .agg(covar_samp(col("va"), col("vb")).as("__cov"),
        stddev_samp(col("va")).as("__sa"), stddev_samp(col("vb")).as("__sb"),
        count(lit(1)).as("n_buckets"))
      .withColumn("r", when(col("__sa") > 0.0 && col("__sb") > 0.0,
        col("__cov") / (col("__sa") * col("__sb"))))
      .filter(col("n_buckets") >= minBuckets && col("r").isNotNull && !isnan(col("r")))
      .select(col("tag_value"), col("r"), col("n_buckets"))
      .orderBy(col("tag_value"))
  }

  /** Series cardinality over time: distinct active series and point
    * volume per (metric, window) — the capacity-planning query every
    * TSDB operator runs (the reference's cardinality alerter hook,
    * `hooks/listeners/cardinality_alerter.go`, watches the same signal
    * point-by-point). `count_distinct` expands to Spark's two-level
    * exact distinct aggregation: partial distinct map-side, so the
    * shuffle carries (metric, window, series) triples — |active series|
    * rows per window, not points. */
  def seriesCardinality(points: DataFrame, windowNs: Long,
      startNs: Long, endNs: Long,
      tombstones: Seq[Tombstone] = Nil): DataFrame = {
    if (tombstones.isEmpty) {
      // tombstone-free fast path (r18): the latest-version merge only
      // collapses duplicate (series, ts) versions — it never changes
      // WHICH (series, ts) pairs exist — so merged-row counts are
      // exactly distinct-(series, ts) counts and the dedup window's
      // (series_key, timestamp) exchange + sort can be skipped outright:
      // both distincts ride ONE two-level exact distinct aggregation
      // (the shuffle carries (metric, window, key) partials, not
      // points). With tombstones the surviving row's seq decides
      // visibility, which needs the merge — the general path below.
      return QueryEngine.withSeriesKey(points)
        .filter(col("timestamp").between(startNs, endNs))
        .withColumn("window_start",
          col("timestamp") - pmod(col("timestamp"), lit(windowNs)))
        .groupBy(col("metric"), col("window_start"))
        .agg(count_distinct(col("series_key")).as("n_series"),
          count_distinct(col("series_key"), col("timestamp")).as("n_points"))
        .orderBy(col("metric"), col("window_start"))
    }
    val df = QueryEngine.mergedView(
      points.filter(col("timestamp").between(startNs, endNs)), tombstones)
    df.withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(windowNs)))
      .groupBy(col("metric"), col("window_start"))
      .agg(count_distinct(col("series_key")).as("n_series"),
        count(lit(1)).as("n_points"))
      .orderBy(col("metric"), col("window_start"))
  }

  /** Aggregation ACROSS series, grouped by a subset of tag keys — PromQL
    * `sum by (k)(metric)` / InfluxQL `GROUP BY tag`. The reference (and
    * this engine's A1/A2) always groups by the FULL series; here series
    * sharing the named tag values merge into one group per (tag-tuple,
    * window). `tagKeys = Nil` collapses every series of the metric into a
    * single group — the `sum(metric)` shape. The aggregation kernel is
    * the engine's own ([[QueryEngine.aggColumns]]): count-star vs
    * non-null counts, NaN empty defaults, first/last in k-way-merge
    * stream order, exact percentiles — identical semantics, wider groups.
    *
    * Plan: the engine's partitioned input + latest-version dedup ride
    * the usual (series_key, time) exchange; the tag-group aggregation
    * then shuffles only partial-agg rows on (tag values, window) —
    * |groups|×windows rows, not points. Missing tag keys group under
    * null, like SQL GROUP BY.
    *
    * FILL / EMIT EMPTY WINDOWS / cursors are per-series shapes and are
    * rejected here; LIMIT applies to the ordered grouped output. */
  def aggregateByTags(points: DataFrame, p: QueryParams, tagKeys: Seq[String],
      tombstones: Seq[Tombstone] = Nil): DataFrame = {
    require(p.aggs.nonEmpty, "GROUP BY TAGS requires aggregation functions")
    require(p.fill == FillNone && !p.emitEmptyWindows,
      "FILL/EMIT EMPTY WINDOWS are per-series shapes — not valid with GROUP BY TAGS")
    require(p.afterKey.isEmpty, "cursors don't apply to tag-grouped results")
    val (input, startNs, endNs) = QueryEngine.partitionedInput(points, p, tombstones)
    // latest-version dedup + tombstones, same as the per-series pipeline
    val dedupKeys =
      if (p.isDownsample) Seq(col("series_key"), col("window_start"), col("timestamp"))
      else Seq(col("series_key"), col("timestamp"))
    val w = Window.partitionBy(dedupKeys: _*).orderBy(col("seq").desc)
    val merged = QueryEngine.applyValueFilter(
      QueryEngine.applyTombstones(
        input.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"), tombstones), p)

    val tagCols = tagKeys.map(k => col("tags").getItem(k).as(s"tag_$k"))
    val keyRefs = tagKeys.map(k => col(s"tag_$k"))
    val withKeys = QueryEngine.withAggInputs(
      merged.select(col("*") +: tagCols: _*), p)
    val aggCols = QueryEngine.aggColumns(p)
    val outAggs = p.aggs.map(s => col(s.outputName))
    val asc = p.order == Ascending

    val shaped = p.downsampleNs match {
      case Some(interval) =>
        val (_, lastW) = QueryEngine.windowBounds(p, startNs, endNs)
        val grouped = withKeys.filter(col("window_start") <= lastW)
          .groupBy(keyRefs :+ col("window_start"): _*)
          .agg(aggCols.head, aggCols.tail: _*)
          .withColumn("window_end", col("window_start") + lit(interval))
        val ordering = (if (asc) col("window_start").asc else col("window_start").desc) +:
          keyRefs.map(_.asc)
        grouped.select(lit(p.metric).as("metric") +: keyRefs ++:
            col("window_start") +: col("window_end") +: outAggs: _*)
          .orderBy(ordering: _*)
      case None =>
        withKeys.groupBy(keyRefs: _*).agg(aggCols.head, aggCols.tail: _*)
          .select(lit(p.metric).as("metric") +: keyRefs ++:
            lit(startNs).as("timestamp") +: outAggs: _*)
          .orderBy(keyRefs.map(_.asc): _*)
    }
    p.limit.fold(shaped)(n => shaped.limit(n.toInt))
  }

  /** Aligned binary series algebra (PromQL `a / b`): metric A and B
    * pivot onto a common (tag value, bucket) grid per-bucket-averaged,
    * and the elementwise ratio is emitted where BOTH sides observed
    * points and the divisor is non-zero. Same single-scan
    * conditional-aggregation pivot as [[correlate]] — no join, one scan
    * reads both metrics. The guarded division keeps ANSI mode safe and
    * matches SQL NULL semantics for missing/zero divisors. */
  def ratio(points: DataFrame, metricA: String, metricB: String,
      tagKey: String, bucketNs: Long, startNs: Long, endNs: Long,
      field: String = "value",
      tombstones: Seq[Tombstone] = Nil): DataFrame = {
    require(metricA != metricB, "ratio needs two distinct metrics")
    val df = QueryEngine.mergedView(
        points.filter(col("metric").isin(metricA, metricB) &&
          col("timestamp").between(startNs, endNs)), tombstones)
      .withColumn("__v", QueryEngine.numericOf(field))
      .filter(col("__v").isNotNull)
    ratioFinish(df.withColumn("bucket",
        col("timestamp") - pmod(col("timestamp"), lit(bucketNs)))
      .withColumn("tag_value", col("tags").getItem(tagKey))
      .groupBy(col("tag_value"), col("bucket"))
      .agg(avg(when(col("metric") === metricA, col("__v"))).as("va"),
        avg(when(col("metric") === metricB, col("__v"))).as("vb"),
        count(when(col("metric") === metricA, 1)).as("n_a"),
        count(when(col("metric") === metricB, 1)).as("n_b")))
  }

  /** Final stage over a paired (tag_value, bucket, va, vb, n_a, n_b)
    * frame — shared by the point path and the rollup-partial route, like
    * [[correlateFinish]]. */
  private[graft] def ratioFinish(paired: DataFrame): DataFrame = {
    paired
      .filter(col("va").isNotNull && col("vb").isNotNull && col("vb") =!= 0.0)
      .withColumn("ratio", col("va") / when(col("vb") =!= 0.0, col("vb")))
      .select(col("tag_value"), col("bucket"), col("n_a"), col("n_b"), col("ratio"))
      .orderBy(col("tag_value"), col("bucket"))
  }

  /** Top-K groups by a whole-range aggregate (PromQL `topk(k, sum by
    * (tag)(metric))`): the tag-grouped final aggregation ranked on the
    * `by` output column, descending, ties broken by tag values for
    * determinism. The ranking is orderBy+limit — Spark plans it as
    * TakeOrdered (per-partition top-K, no global sort exchange) — and
    * the rank column is a window over the K survivors only. */
  def topKGroups(points: DataFrame, p: QueryParams, tagKeys: Seq[String],
      k: Int, by: String,
      tombstones: Seq[Tombstone] = Nil,
      ascending: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(p.downsampleNs.isEmpty, "topKGroups ranks the whole-range aggregation")
    require(p.aggs.exists(_.outputName == by),
      s"ranking column $by must be one of the aggregation outputs")
    val keyRefs = tagKeys.map(kk => col(s"tag_$kk"))
    // BOTTOMK = the same ranking ascending (PromQL bottomk)
    val ordering =
      (if (ascending) col(by).asc else col(by).desc) +: keyRefs.map(_.asc)
    val top = aggregateByTags(points, p, tagKeys, tombstones)
      .orderBy(ordering: _*).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(ordering: _*)))
  }

  /** Mergeable cardinality summary: one Datasketches HLL sketch of
    * `series_key` per (metric, base window), plus the point count. This
    * is the 100 TB companion to [[seriesCardinality]] — the exact
    * count_distinct reads every point for every query, while the summary
    * is built ONCE (|metrics|×windows tiny rows) and any coarser-window
    * cardinality question is answered from sketch unions alone
    * (Datasketches HLL union is associative and deterministic, the same
    * contract the rollup partials rely on for sums). ~0.8%·√(2¹²/2^lgK)
    * standard error at the default lgK=12; exact while a window's series
    * set still fits the sketch's sparse mode. */
  def cardinalitySummary(points: DataFrame, baseWindowNs: Long,
      lgK: Int = 12, tombstones: Seq[Tombstone] = Nil): DataFrame = {
    val df = QueryEngine.mergedView(points, tombstones)
    df.withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(baseWindowNs)))
      .groupBy(col("metric"), col("window_start"))
      .agg(hll_sketch_agg(col("series_key"), lit(lgK)).as("hll"),
        count(lit(1)).as("n_points"))
  }

  /** Materialize a cardinality summary under `path`, partitioned by the
    * UTC date of the base window (the engine's storage partition
    * grammar). Maintenance is APPEND-ONLY by construction: HLL sketches
    * are mergeable, and [[cardinalityServe]] already unions every row of
    * a (metric, window) group — so an increment just writes MORE rows
    * ([[appendCardinalitySummary]]) without reading, rewriting, or even
    * listing the existing ones. [[compactCardinalitySummary]] folds the
    * accumulated rows back to one per (metric, window) when file counts
    * warrant, with the staged two-rename swap the other on-disk indexes
    * use. */
  def writeCardinalitySummary(points: DataFrame, baseWindowNs: Long,
      path: String, lgK: Int = 12,
      tombstones: Seq[Tombstone] = Nil): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      points.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    appendCardinalitySummary(points, baseWindowNs, path, lgK, tombstones)
  }

  /** Add an increment's sketch rows — touches NO existing file. */
  def appendCardinalitySummary(points: DataFrame, baseWindowNs: Long,
      path: String, lgK: Int = 12,
      tombstones: Seq[Tombstone] = Nil): Unit =
    cardinalitySummary(points, baseWindowNs, lgK, tombstones)
      .withColumn("date", to_date(timestamp_micros((col("window_start") / lit(1000L)).cast("long"))))
      .write.partitionBy("date").mode("append").parquet(path)

  def readCardinalitySummary(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val live = new org.apache.hadoop.fs.Path(path)
    graft.pipeline.Dedup.recoverStagedSwap(
      live.getFileSystem(spark.sparkContext.hadoopConfiguration), live)
    spark.read.parquet(path)
  }

  /** Fold accumulated append rows to ONE per (metric, window) — sketch
    * unions + point-count sums, estimates unchanged (HLL union is
    * associative). Staged write + two-rename swap with rollback; run
    * without concurrent readers (the instant between the two renames
    * has no live directory), and a crash in that window is recovered on
    * the next open by [[graft.pipeline.Dedup.recoverStagedSwap]]. */
  def compactCardinalitySummary(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val staged = s"${path}_compacting"
    val retired = s"${path}_retired"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.pipeline.Dedup.recoverStagedSwap(fs, new Path(path))
    fs.delete(new Path(staged), true)
    fs.delete(new Path(retired), true)
    spark.read.parquet(path)
      .groupBy(col("metric"), col("window_start"))
      .agg(hll_union_agg(col("hll")).as("hll"), sum(col("n_points")).as("n_points"))
      .withColumn("date", to_date(timestamp_micros((col("window_start") / lit(1000L)).cast("long"))))
      .repartition(col("date"))
      .write.partitionBy("date").mode("overwrite").parquet(staged)
    if (!fs.rename(new Path(path), new Path(retired)))
      throw new java.io.IOException(s"compactCardinalitySummary: cannot retire $path")
    if (!fs.rename(new Path(staged), new Path(path))) {
      fs.rename(new Path(retired), new Path(path))
      throw new java.io.IOException(s"compactCardinalitySummary: cannot publish $staged")
    }
    fs.delete(new Path(retired), true)
  }

  /** Serve distinct-series estimates over any window that is a multiple
    * of the summary's base window — reads ONLY the summary. */
  def cardinalityServe(summary: DataFrame, baseWindowNs: Long,
      windowNs: Long): DataFrame = {
    require(windowNs >= baseWindowNs && windowNs % baseWindowNs == 0,
      s"serve window $windowNs must be a multiple of base $baseWindowNs")
    summary
      .withColumn("w", col("window_start") - pmod(col("window_start"), lit(windowNs)))
      .groupBy(col("metric"), col("w"))
      .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("n_series_est"),
        sum(col("n_points")).as("n_points"))
      .select(col("metric"), col("w").as("window_start"),
        col("n_series_est"), col("n_points"))
      .orderBy(col("metric"), col("window_start"))
  }

  /** Per-series rolling z-score: each point scored against the mean and
    * sample stddev of its own TRAILING `lookback` points (the point
    * itself excluded — the score tests the point against its past, so a
    * level shift scores high on arrival instead of polluting its own
    * baseline). `z` is null until `minPoints` predecessors exist or when
    * the trailing window has ~zero variance; `is_anomaly` marks |z| above
    * `threshold`.
    *
    * Output: metric, tags, series_key, timestamp, value, mean, stddev, z,
    * is_anomaly, ordered by (series_key, timestamp). */
  def rollingZScore(points: DataFrame, p: QueryParams, field: String = "value",
      lookback: Int = 20, minPoints: Int = 5, threshold: Double = 3.0,
      tombstones: Seq[Tombstone] = Nil,
      splitNs: Option[Long] = None): DataFrame = {
    require(lookback >= 2 && minPoints >= 2 && minPoints <= lookback,
      s"need 2 <= minPoints <= lookback, got lookback=$lookback minPoints=$minPoints")
    splitNs.foreach { sw =>
      return rollingZScoreSplit(points, p, field, lookback, minPoints,
        threshold, tombstones, sw)
    }
    val df = slice(points, p, field, tombstones)
    val w = Window.partitionBy(col("series_key")).orderBy(col("timestamp"))
      .rowsBetween(-lookback, -1)
    // ONE select materializes each window aggregate once (r17: the
    // chained-withColumn form embedded avg/stddev twice — once as the
    // output column, once inside z — so the Window operator evaluated
    // them twice per row; analyzer also ran once per withColumn).
    // stddev within 1e-12 of zero → undefined score (a constant baseline
    // makes any change infinitely surprising; report null, not ±Inf)
    val stats = df.select(col("*"),
      avg(col("__v")).over(w).as("mean"),
      stddev_samp(col("__v")).over(w).as("stddev"),
      count(col("__v")).over(w).as("__wn"))
    val z = when(col("__wn") >= minPoints && col("stddev") > 1e-12,
      (col("__v") - col("mean")) / when(col("stddev") =!= 0.0, col("stddev")))
    stats.select(col("*"), z.as("z"))
      .select(col("metric"), col("tags"), col("series_key"), col("timestamp"),
        col("__v").as("value"), col("mean"), col("stddev"), col("z"),
        coalesce(abs(col("z")) > threshold, lit(false)).as("is_anomaly"))
      .orderBy(col("series_key"), col("timestamp"))
  }

  /** Hot-series time-split rolling z-score — the CONTEXT-REPLICATION
    * member of the split family: a trailing ROWS window needs its
    * `lookback` predecessor rows, so each chunk imports them as tagged
    * context rows and drops them after the window runs. Exactness
    * argument: each non-empty chunk keeps its last `lookback` rows as
    * candidates; the series' true last-k rows before any chunk start are
    * contiguous in time and span AT MOST the previous k non-empty chunks
    * (each contributes ≥ 1 row), so replicating every candidate to the
    * next k per-series chunk INDICES makes every target chunk's imported
    * prefix a time-contiguous suffix of the series — the trailing window
    * over (context ∪ chunk rows) therefore sees EXACTLY the operands the
    * unsplit window sees, in the same order, and the result is
    * BIT-IDENTICAL (spec-pinned). Replica volume is bounded by
    * |series|×|chunks|×lookback², independent of rows per chunk.
    * Null-valued rows occupy window POSITIONS (rows frame) and ride the
    * candidate selection like any row, exactly as unsplit. */
  private def rollingZScoreSplit(points: DataFrame, p: QueryParams,
      field: String, lookback: Int, minPoints: Int, threshold: Double,
      tombstones: Seq[Tombstone], splitNs: Long): DataFrame = {
    val cols = Seq(col("metric"), col("tags"), col("series_key"),
      col("__chunk"), col("timestamp"), col("__v"))
    val base = sliceChunked(points, p, field, tombstones, splitNs)
      .select(cols: _*)
    // dense per-series chunk index over the tiny chunk summary
    val chunks = base.select(col("series_key"), col("__chunk")).distinct()
      .withColumn("__cidx", row_number().over(
        Window.partitionBy(col("series_key")).orderBy(col("__chunk"))))
    val wcDesc = Window.partitionBy(col("series_key"), col("__chunk"))
      .orderBy(col("timestamp").desc)
    val replicas = base
      .withColumn("__rnd", row_number().over(wcDesc))
      .filter(col("__rnd") <= lookback).drop("__rnd")
      .join(chunks, Seq("series_key", "__chunk"))
      .withColumn("__off", explode(sequence(lit(1), lit(lookback))))
      .withColumn("__tidx", col("__cidx") + col("__off"))
      .drop("__chunk", "__cidx", "__off")
      // target restricted to EXISTING chunks: empty ranges import nothing
      .join(chunks.withColumnRenamed("__cidx", "__tidx"),
        Seq("series_key", "__tidx"))
      .drop("__tidx")
      .select(cols: _*).withColumn("__ctx", lit(true))
    val all = base.withColumn("__ctx", lit(false)).unionByName(replicas)
    val w = Window.partitionBy(col("series_key"), col("__chunk"))
      .orderBy(col("timestamp")).rowsBetween(-lookback, -1)
    // same single-evaluation batching as the unsplit path (r17)
    val stats = all.select(col("*"),
      avg(col("__v")).over(w).as("mean"),
      stddev_samp(col("__v")).over(w).as("stddev"),
      count(col("__v")).over(w).as("__wn"))
    val z = when(col("__wn") >= minPoints && col("stddev") > 1e-12,
      (col("__v") - col("mean")) / when(col("stddev") =!= 0.0, col("stddev")))
    stats.select(col("*"), z.as("z"))
      .filter(!col("__ctx"))
      .select(col("metric"), col("tags"), col("series_key"), col("timestamp"),
        col("__v").as("value"), col("mean"), col("stddev"), col("z"),
        coalesce(abs(col("z")) > threshold, lit(false)).as("is_anomaly"))
      .orderBy(col("series_key"), col("timestamp"))
  }
}
