package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Materialized rollup acceleration for downsample queries — the SURVEY §4
  * north-star ("rewriting per-series downsampling onto pre-aggregated
  * rollup tables"), absent from the reference but THE way A2 queries
  * survive 100 TB: a fine-grained rollup (say 1 m) stores decomposable
  * partial aggregates per (series, window); any downsample whose interval
  * is a multiple of the rollup's re-aggregates rollup rows instead of raw
  * points, reading |series| × range/1m rows instead of every point.
  *
  * Exactness, not approximation: every stored partial re-aggregates to
  * the raw-path answer —
  *
  *  - count(f)/count(*): sums of window counts;
  *  - sum/min/max: sum of sums, min of mins, max of maxes;
  *  - avg: Σsum / Σcnt (NaN when no numeric values);
  *  - first/last: each window stores its first/last NUMERIC value WITH
  *    its stream-order key (timestamp, series_key, −seq); re-aggregation
  *    is min_by/max_by over the stored keys — exactly the merge-order
  *    semantics of the raw path (`iterator/iterator.go:35-63`);
  *  - frac: derived from re-aggregated first/last + numeric count with
  *    the reference's zero/±Inf/NaN cases;
  *  - stddev: sum-of-squares partials — the SAME algorithm the reference
  *    itself uses (`multi_field_aggregator.go:293-304`), sample variance
  *    `(Σx² − (Σx)²/n)/(n−1)` clamped at 0, NaN when n < 2.
  *
  * Percentiles (`p<N>`) are the one APPROXIMATE partial: when the rollup
  * is built `withDigests`, each window additionally stores a serialized
  * t-digest sketch ([[graft.functions.TDigestSketchAgg]]) and the
  * re-aggregation merges sketches and interpolates — the same sketch
  * family the reference embeds in its own percentile aggregations
  * (`iterator/agg_helpers.go:8-16`). The contract is approximation with
  * t-digest's quantile error bounds, NOT bit-equality with the raw exact
  * `percentile` path; it is exact whenever window populations are small
  * enough that every centroid stays a singleton (RollupSpec pins that
  * case). [[supports]] therefore treats percentile specs as rollup-
  * eligible ONLY when the frame carries digest columns — a rollup built
  * without digests keeps routing percentile queries to the raw path.
  *
  * The rollup must be built over the MERGED view (latest-version dedup +
  * tombstones applied, [[QueryEngine.mergedView]]); a delete or
  * re-ingest invalidates the affected (metric, date) rollup partitions,
  * which is why [[build]] takes the merged frame rather than raw storage.
  * At scale, partition the written rollup by (metric, date) so query-time
  * pruning works unchanged, and rebuild only commit-touched partitions —
  * [[TsdbEngine]] materializes exactly that layout and its
  * `rollupView` rebuilds only the date partitions later commits touch.
  */
/** A smoothing recurrence materialized INTO a rollup (round-10): the
  * build stores, per (series, window), the EXACT running state of the
  * EWMA (`kind = "ewma"`) or Holt (`kind = "holt"`) fold at the window's
  * last numeric sample — computed by the SAME native sequential window
  * aggregate as the raw operator over the same merged order, so the
  * stored doubles are BIT-identical to the raw analytic's values there
  * (no transit-matrix composition: re-associating a floating-point left
  * fold is inherently ulp-level, which is why the SPLIT family is
  * 1e-9-pinned — a recurrence partial that must hash against the raw
  * oracle has to BE the sequential fold, sampled). Maintenance is
  * SUFFIX-incremental (round 13): an edit invalidates every stored state
  * AT OR AFTER the earliest commit-touched timestamp but none before it
  * (a left fold's prefix is edit-invariant), so [[TsdbEngine]] rebuilds
  * only date partitions ≥ that boundary, RESUMING each series' fold from
  * its last stored pre-boundary state ([[Rollup.build]]'s `seeds`) — the
  * rebuilt states stay bit-identical to a full rebuild, and a year-deep
  * metric's ingest touches only the hot tail, never its history
  * (cf. the reference's chunk-local downsampling restart,
  * `iterator/multi_field_downsampling_iterator.go:262-269`).
  * Several smoothings may coexist on one field (two dashboards, two
  * alphas): each spec's parameters ride its stored column's name as
  * exact IEEE bits ([[Rollup.smoothStateCol]]); re-registering a
  * different spec set rebuilds. */
final case class SmoothSpec(field: String, kind: String, alpha: Double,
    beta: Double = 0.0) {
  // EWMA has no beta: a nonzero one would be dropped by
  // [[Rollup.smoothStateCol]]'s name encoding, letting two "distinct"
  // specs collide on one state column — reject at construction (the NBQL
  // parser always pins ewma beta = 0.0; this guards direct-API callers)
  require(kind != "ewma" || beta == 0.0,
    s"ewma smoothing takes no beta (got $beta)")
}

object Rollup {

  import graft.functions.TDigestFunctions.{tdigest_sketch, tdigest_merge_quantile}

  /** Physical column holding [[SmoothSpec]]'s stored fold state. The
    * parameters ride the name (exact IEEE bits, hex — never a lossy
    * decimal render), so one rollup can hold SEVERAL smoothings of the
    * same field (two dashboards, two alphas) without collision. */
  def smoothStateCol(s: SmoothSpec): String = {
    val a = java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(s.alpha))
    val b = if (s.kind == "holt")
      "_" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(s.beta))
    else ""
    s"${s.field}__${s.kind}_$a$b"
  }

  /** Column name carrying [[SmoothSpec]]'s RESUME seed in a [[build]]
    * `seeds` frame (the stored fold state at each series' last
    * pre-boundary numeric sample — double for ewma, struct(level, trend)
    * for holt). */
  def smoothSeedCol(s: SmoothSpec): String = s"__seed_${smoothStateCol(s)}"

  /** Stored partial-aggregate columns for field `f` (null-safe: a window
    * whose points lack the field stores nulls / zero counts). With
    * `digest`, adds the serialized t-digest sketch of the window's
    * numeric values (`f__tdigest`) for percentile re-aggregation.
    *
    * Inputs reference the MATERIALIZED `__graft_n_<f>` column
    * ([[buildPartials]]'s batch-0 select, r18) instead of re-deriving the
    * cleaned numeric inline: the aggregation plans as SortAggregate
    * (struct-typed buffers), which runs interpreted with NO
    * common-subexpression elimination — the inline form evaluated the
    * fields-map extract + NaN/Inf CASE chain once per aggregate function
    * per row (~10× redundant work, and an expression tree large enough to
    * show up in analysis time). */
  private def partials(f: String, digest: Boolean): Seq[Column] = {
    val n = col(s"__graft_n_$f")
    val ord = struct(col("timestamp"), col("series_key"),
      (col("seq") * -1).as("negseq"))
    val vord = when(n.isNotNull, ord)
    val base = Seq(
      count(QueryEngine.anyNonNullOf(f)).as(s"${f}__cnt_any"),
      count(n).as(s"${f}__cnt"),
      sum(n).as(s"${f}__sum"),
      sum(n * n).as(s"${f}__sumsq"),
      min(n).as(s"${f}__min"),
      max(n).as(s"${f}__max"),
      min(vord).as(s"${f}__first_ord"),
      min_by(n, vord).as(s"${f}__first"),
      max(vord).as(s"${f}__last_ord"),
      max_by(n, vord).as(s"${f}__last"),
      // in-window counter increase: Σ reset-aware deltas of consecutive
      // NUMERIC samples inside the window (precomputed by [[build]]'s
      // window pass); composes across windows with [[runDelta]]'s
      // boundary pairs — the decomposition behind rollup-routed
      // ANALYZE DELTA (whole-range) and [[runDeltaBy]] (windowed)
      sum(col(s"__graft_inc_$f")).as(s"${f}__inc"),
      // in-window counter-transition counts: resets (pair decreased) and
      // changes (pair differed) over consecutive NUMERIC samples inside
      // the window; compose across windows with boundary-pair
      // comparisons — the decomposition behind rollup-routed
      // ANALYZE RESETS/CHANGES ([[runTransitions]]), exact (long counts)
      sum(col(s"__graft_reset_$f")).as(s"${f}__resets"),
      sum(col(s"__graft_chg_$f")).as(s"${f}__changes"),
      // in-window LOCF integral: Σ vᵢ·(tᵢ₊₁−tᵢ) over consecutive NUMERIC
      // pairs inside the window, in value·ns ([[build]]'s window pass);
      // the last sample's carry past the window edge is recoverable from
      // the ord structs — the decomposition behind rollup-routed
      // ANALYZE TWA ([[runTwa]])
      sum(col(s"__graft_area_$f")).as(s"${f}__area"),
      // the window's SECOND-TO-LAST numeric sample (value + ord): with
      // the previous window's last this yields any trailing sample pair
      // without touching points — the decomposition behind the
      // driver-resident IRATE tier ([[LocalRollup.runIrate]])
      max_by(col(s"__graft_prev_$f"), vord).as(s"${f}__plast"),
      max_by(col(s"__graft_prevord_$f"), vord).as(s"${f}__plast_ord"),
      // time moments over NUMERIC samples (t = epoch seconds): Σt, Σt·v,
      // Σt² — plain sums, so they merge across windows and SHIFT exactly
      // to any regression anchor (Σ(t−s)v = Σtv − s·Σv …) — the
      // decomposition behind rollup-routed ANALYZE PREDICT
      // ([[runPredict]])
      sum(when(n.isNotNull, tSec)).as(s"${f}__tsum"),
      sum(n * tSec).as(s"${f}__tvsum"),
      sum(when(n.isNotNull, tSec * tSec)).as(s"${f}__ttsum"))
    if (digest) base :+ tdigest_sketch(n).as(s"${f}__tdigest") else base
  }

  /** Timestamp in epoch seconds (the regression axis of
    * [[TsAnalytics.predictLinear]]). */
  private def tSec: Column = col("timestamp").cast("double") / 1e9

  /** Build the rollup at `intervalNs` over a MERGED point frame (the
    * [[QueryEngine.mergedView]] output — or any frame with the canonical
    * schema plus `series_key`). One row per (series, window) carrying
    * count(*) plus [[partials]] for each rolled field.
    *
    * `seeds` (suffix-incremental maintenance, round 13): a per-series
    * frame of stored fold states at a boundary — `series_key` plus one
    * [[smoothSeedCol]] per smoothing spec. When present, each series'
    * smoothing fold RESUMES from its seed instead of its first sample
    * ([[graft.functions.Ewma]]'s seeded form), so building over only the
    * points ≥ the boundary yields states BIT-identical to a full-history
    * rebuild (the fold is a left recurrence: resuming from the exact
    * stored state replays the exact same FP operations). Series absent
    * from `seeds` (new past the boundary) fold unseeded, exactly as a
    * full build would. Non-smoothing partials are window-local and never
    * need seeds. */
  def build(merged: DataFrame, intervalNs: Long, fields: Seq[String],
      withDigests: Boolean = false,
      smooth: Seq[SmoothSpec] = Nil,
      seeds: Option[DataFrame] = None): DataFrame = {
    buildPartials(QueryEngine.withSeriesKey(merged), intervalNs, fields,
      withDigests, smooth, seeds)
  }

  /** [[build]] from the RAW (un-merged) point frame: fuses the
    * latest-version dedup + tombstone elision into the build's own
    * clustering, so the whole merge → window passes → aggregate pipeline
    * runs off ONE hash exchange (r17; via [[QueryEngine.mergedView]] the
    * dedup window inserts its own (series_key, timestamp) exchange and
    * the build's (series_key[, window_start]) windows then need a
    * second). The explicit key mirrors `QueryEngine.partitionedInput`:
    * (series_key, window_start) — time-salted, so a pathologically hot
    * series spreads over windows — except when smoothing specs are
    * present, whose per-series sequential folds require whole-series
    * clustering (series_key alone) anyway. The dedup window adds
    * window_start to its partition keys in the salted case — a pure
    * function of timestamp, so groups and semantics are IDENTICAL to
    * mergedView's (series_key, timestamp) dedup; tombstones are applied
    * after the merge exactly as mergedView does. */
  def buildRaw(points: DataFrame, intervalNs: Long, fields: Seq[String],
      withDigests: Boolean = false,
      smooth: Seq[SmoothSpec] = Nil,
      seeds: Option[DataFrame] = None,
      tombstones: Seq[Tombstone] = Nil): DataFrame = {
    require(intervalNs > 0, "rollup interval must be > 0")
    val bucketed = QueryEngine.withSeriesKey(points).withColumn("window_start",
      col("timestamp") - pmod(col("timestamp"), lit(intervalNs)))
    val clustered =
      if (smooth.nonEmpty) bucketed.repartition(col("series_key"))
      else bucketed.repartition(col("series_key"), col("window_start"))
    val dedupKeys =
      if (smooth.nonEmpty) Seq(col("series_key"), col("timestamp"))
      else Seq(col("series_key"), col("window_start"), col("timestamp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dedupKeys: _*).orderBy(col("seq").desc)
    val merged = QueryEngine.applyTombstones(
      bucketedDedup(clustered, w), tombstones)
    buildPartials(merged, intervalNs, fields, withDigests, smooth, seeds)
  }

  private def bucketedDedup(df: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec): DataFrame =
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")

  /** Shared back half of [[build]]/[[buildRaw]]: seed join, smoothing
    * folds, per-window lag partials, final (series, window) aggregation.
    * Reuses an existing `window_start` column when the caller computed
    * it pre-shuffle ([[buildRaw]]) — recomputing would re-alias the
    * attribute and orphan the child partitioning (= a new exchange). */
  private def buildPartials(keyed0: DataFrame, intervalNs: Long,
      fields: Seq[String], withDigests: Boolean,
      smooth: Seq[SmoothSpec], seeds: Option[DataFrame]): DataFrame = {
    require(intervalNs > 0, "rollup interval must be > 0")
    require(smooth.distinct.size == smooth.size,
      "duplicate smoothing spec")
    require(seeds.isEmpty || smooth.nonEmpty, "seeds without smoothing specs")
    // the seed join shares the series_key clustering the smoothing window
    // pass needs anyway — at most one exchange for both
    val seeded = seeds.fold(keyed0)(sd =>
      keyed0.join(sd, Seq("series_key"), "left"))
    // batch 0 (r18): materialize each rolled field's CLEANED NUMERIC value
    // once as a column. Every downstream consumer — the smoothing folds,
    // the per-window lag pass, the delta/transition/integral columns, and
    // all ~18 stored partials — references the 8-byte column instead of
    // re-deriving fields[f] map extraction + the NaN/Inf CASE chain per
    // use (the aggregation plans as SortAggregate for its struct-typed
    // buffers, which evaluates interpreted with NO common-subexpression
    // elimination — the inline form paid that chain ~10× per row). The
    // ord STRUCT is deliberately NOT materialized: in the build()/
    // mergedView path this select sits below the windows' exchange, and a
    // per-field struct(ts, series_key, negseq) column would widen the
    // build shuffle ~30% (guide §2.3) to save 4 post-shuffle struct
    // constructions — the wrong trade at scale.
    val matFields = (fields ++ smooth.map(_.field)).distinct
    val matCols = matFields.map(f =>
      QueryEngine.numericOf(f).as(s"__graft_n_$f"))
    val keyed = seeded.select(col("*") +: matCols: _*)
    // Column-batched construction (r17): every chained withColumn eagerly
    // re-runs the analyzer over the whole (growing) plan — for |fields|
    // delta columns that was O(fields²) analyzer passes and showed up as
    // hundreds of ms of DRIVER time per build. Each batch below is ONE
    // select (one analyzer pass); semantics identical.
    val smoothCols = smooth.map { s =>
      // exact recurrence state per sample ([[SmoothSpec]]): the raw
      // operator's own native fold over the per-SERIES merged order.
      // Runs BEFORE the per-(series, window) lag pass; hash(series_key)
      // partitioning satisfies the downstream (series, window)
      // clustering, so the extra pass costs one sort, never an exchange.
      val n = col(s"__graft_n_${s.field}")
      val seedCol = seeds.map(_ => col(smoothSeedCol(s)))
      val state = s.kind match {
        case "ewma" =>
          graft.functions.WindowFunctions.ewma(n, s.alpha,
            partitionBy = Seq(col("series_key")),
            orderBy = Seq(col("timestamp")),
            seed = seedCol)
        case "holt" =>
          graft.functions.WindowFunctions.holtTrend(n, s.alpha, s.beta,
            partitionBy = Seq(col("series_key")),
            orderBy = Seq(col("timestamp")),
            seed = seedCol.map(c =>
              (c.getField("level"), c.getField("trend"))))
        case other =>
          throw new IllegalArgumentException(s"unknown smoothing kind $other")
      }
      state.as(smoothStateCol(s))
    }
    val preWindow =
      if (smoothCols.isEmpty) keyed
      else keyed.select(col("*") +: smoothCols: _*)
    val windowed =
      if (preWindow.columns.contains("window_start")) preWindow
      else preWindow.withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(intervalNs)))
    // per-field consecutive reset-aware deltas WITHIN each window: the
    // previous numeric sample via last(ignoreNulls) over a running frame
    // (skips null-valued rows like the raw operator). The window rides
    // the same (series, window) clustering as the groupBy below — one
    // exchange total.
    val winSpec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_key"), col("window_start"))
      .orderBy(col("timestamp"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // batch 1: the per-field previous NUMERIC sample's value + ord (the
    // lag behind the __inc/__area/__plast partials) — materialized as
    // columns so each window function is computed once, then referenced
    val prevCols = fields.flatMap { f =>
      val n = col(s"__graft_n_$f")
      val ord = struct(col("timestamp"), col("series_key"),
        (col("seq") * -1).as("negseq"))
      Seq(
        last(n, ignoreNulls = true).over(winSpec).as(s"__graft_prev_$f"),
        last(when(n.isNotNull, ord), ignoreNulls = true).over(winSpec)
          .as(s"__graft_prevord_$f"))
    }
    val withPrev = windowed.select(col("*") +: prevCols: _*)
    // batch 2: pair deltas / transition flags / LOCF integrals over the
    // materialized prev columns
    val deltaCols = fields.flatMap { f =>
      val n = col(s"__graft_n_$f")
      val prev = col(s"__graft_prev_$f")
      Seq(
        when(n.isNotNull && prev.isNotNull,
          when(n < prev, n).otherwise(n - prev)).as(s"__graft_inc_$f"),
        // counter-transition flags per consecutive numeric pair (the
        // __resets/__changes partials; long so the sums stay exact)
        when(n.isNotNull && prev.isNotNull,
          when(n < prev, lit(1L)).otherwise(lit(0L))).as(s"__graft_reset_$f"),
        when(n.isNotNull && prev.isNotNull,
          when(n =!= prev, lit(1L)).otherwise(lit(0L))).as(s"__graft_chg_$f"),
        // LOCF pair integral, assigned to the pair's LATER row: the
        // earlier sample's value × the ns gap, as double (the raw TWA
        // path's v·w product over the same operands)
        when(n.isNotNull && prev.isNotNull,
          prev * (col("timestamp") -
            col(s"__graft_prevord_$f").getField("timestamp")).cast("double"))
          .as(s"__graft_area_$f"))
    }
    val withDeltas = withPrev.select(col("*") +: deltaCols: _*)
    // smoothing partials: the state at the window's LAST numeric sample
    // (max_by over the same vord key as first/last — non-numeric rows
    // carry the fold unchanged and are excluded by the null ord)
    val smoothAggs = smooth.map { s =>
      val n = col(s"__graft_n_${s.field}")
      val vord = when(n.isNotNull, struct(col("timestamp"), col("series_key"),
        (col("seq") * -1).as("negseq")))
      max_by(col(smoothStateCol(s)), vord).as(smoothStateCol(s))
    }
    withDeltas
      .groupBy(col("series_key"), col("window_start"))
      .agg(first(col("metric")).as("metric"),
        (first(col("tags")).as("tags") +:
          count(lit(1)).as("__cnt_star") +:
          (fields.flatMap(partials(_, withDigests)) ++ smoothAggs)): _*)
  }

  /** Fields whose partials a rollup frame actually carries (derived from
    * the physical columns, so coverage checks can never go vacuous). */
  def coveredFields(rollup: DataFrame): Set[String] =
    rollup.columns.collect { case c if c.endsWith("__cnt") => c.dropRight(5) }.toSet

  /** True when the frame stores t-digest sketches for every covered field
    * (i.e. percentile specs are answerable). */
  def hasDigests(rollup: DataFrame): Boolean = {
    val cols = rollup.columns.toSet
    val fs = coveredFields(rollup)
    fs.nonEmpty && fs.forall(f => cols.contains(s"${f}__tdigest"))
  }

  /** True when `p` can be answered from a rollup at `rollupIntervalNs`
    * covering `fields`: a downsample whose interval is a multiple of the
    * rollup's, whose inclusive [start, end] range is a union of whole
    * rollup windows, with no RELATIVE/now resolution, and whose functions
    * are all decomposable over the stored partials. Percentile specs are
    * eligible only with `digests` (approximate contract — see the object
    * Scaladoc); everything else re-aggregates EXACTLY. */
  def supports(p: QueryParams, rollupIntervalNs: Long,
      fields: Set[String], digests: Boolean = false): Boolean =
    supportsAnalytic(p, rollupIntervalNs, _ => true, Nil,
      Some(p.downsampleNs.getOrElse(0L))) &&
      p.aggs.nonEmpty &&
      p.aggs.forall(a =>
        (a.field == "*" || fields.contains(a.field)) &&
          (if (a.percentile.isDefined) digests && a.field != "*"
           else AggFunctions.named.contains(a.func)))

  /** The one rollup eligibility predicate: true when a rollup of grain
    * `grain` whose frame stores every column in `needs` (`has` answers
    * for the frame) can answer `p` — no value filters (they filter
    * individual points, partials can't re-filter), an exact metric (a
    * prefix fans out past the per-metric registration), no RELATIVE/now
    * resolution, an inclusive [start, end] range that is a union of whole
    * rollup windows, and a target window (when the shape has one) that
    * is a positive multiple of the grain, so every rollup window maps
    * into exactly one target. Both serving tiers of every rollup-served
    * ANALYZE verb call it through [[AnalyzeRoute.gate]]. */
  def supportsAnalytic(p: QueryParams, grain: Long, has: String => Boolean,
      needs: Seq[String], windowNs: Option[Long] = None): Boolean =
    p.valueFilters.isEmpty &&
      !TagMatch.isPrefix(p.metric) &&
      p.relativeNs.isEmpty &&
      p.startNs % grain == 0 &&
      p.endNs.exists(e => e != 0L && (e + 1) % grain == 0) &&
      windowNs.forall(w => w > 0 && w % grain == 0) &&
      needs.forall(has)

  /** `spec`'s routing-table gate against `rollup`'s columns. */
  private def routable(p: QueryParams, grain: Long, rollup: DataFrame,
      spec: AnalyzeSpec): Boolean =
    AnalyzeRoutes.of(p, spec).exists(_.gate(grain, rollup.columns.contains))

  /** `p`'s slice of a rollup frame: metric, tag predicates and the
    * [startNs, endNs] window range (plus the `date` PARTITION column when
    * the frame is the engine's date-partitioned layout, so whole date
    * directories prune before any footer read). */
  private def rangeSlice(rollup: DataFrame, p: QueryParams): DataFrame = {
    val endNs = p.endNs.get
    var df = rollup.filter(col("metric") === p.metric)
    p.tags.foreach { case (k, v) => df = df.filter(TagMatch.pred(k, v)) }
    df = df.filter(col("window_start").between(p.startNs, endNs))
    if (rollup.columns.contains("date"))
      df = df.filter(col("date").between(
        TsdbEngine.dayStr(p.startNs), TsdbEngine.dayStr(endNs)))
    df
  }

  /** Per series, the last numeric sample's value over all earlier
    * windows — the boundary pair's left side. */
  private def prevLast(field: String): Column =
    last(col(s"${field}__last"), ignoreNulls = true).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("series_key")).orderBy(col("window_start"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))

  /** Re-aggregation Column for one spec over the stored partials. */
  private def reAgg(s: AggSpec): Column = {
    val f = s.field
    def c(suffix: String): Column = col(s"${f}__$suffix")
    val n = sum(c("cnt"))
    val sm = sum(c("sum"))
    val fst = min_by(c("first"), c("first_ord"))
    val lst = max_by(c("last"), c("last_ord"))
    val result: Column = s.func match {
      case "count" if f == "*" => sum(col("__cnt_star"))
      case "count" => sum(c("cnt_any"))
      case "sum"   => coalesce(sm, lit(0.0))
      case "avg"   => when(n > 0, sm / when(n =!= 0, n)).otherwise(AggFunctions.nan)
      case "min"   => coalesce(min(c("min")), AggFunctions.nan)
      case "max"   => coalesce(max(c("max")), AggFunctions.nan)
      case "first" => coalesce(fst, AggFunctions.nan)
      case "last"  => coalesce(lst, AggFunctions.nan)
      case "frac"  =>
        when(n < 2, AggFunctions.nan)
          .when(fst === 0.0 && lst === 0.0, lit(0.0))
          .when(fst === 0.0 && lst > 0.0, lit(Double.PositiveInfinity))
          .when(fst === 0.0 && lst < 0.0, lit(Double.NegativeInfinity))
          .otherwise((lst - fst) / when(fst =!= 0.0, fst))
      case "stddev" =>
        val ss = sum(c("sumsq"))
        when(n < 2, AggFunctions.nan)
          .otherwise(sqrt(greatest(
            (ss - sm * sm / when(n =!= 0, n)) / (n - 1), lit(0.0))))
      case _ if s.percentile.isDefined =>
        // approximate: merged t-digest quantile (NaN over empty windows)
        tdigest_merge_quantile(c("tdigest"), s.percentile.get / 100.0)
      case other =>
        throw new IllegalArgumentException(
          s"not decomposable from rollup partials: $other")
    }
    result.as(s.outputName)
  }

  /** Answer a [[supports]]-eligible downsample query from the rollup:
    * series/tag/time filters (pushed to the rollup scan — including the
    * `date` PARTITION column when the frame is the engine's materialized
    * date-partitioned layout, so whole date directories prune before any
    * footer read), one groupBy onto the coarser window, then the SAME
    * shaping/cursor/limit path the raw engine uses — output is
    * row-identical to [[QueryEngine.run]] (percentiles: approximate per
    * the digest contract). The eligibility guard derives the covered
    * field set and digest availability FROM THE FRAME's columns, so a
    * rollup that doesn't store a queried field's partials fails fast
    * here, not with an opaque resolution error downstream. */
  def run(rollup: DataFrame, rollupIntervalNs: Long, p: QueryParams,
      ordered: Boolean = true): DataFrame = {
    require(supports(p, rollupIntervalNs, coveredFields(rollup), hasDigests(rollup)),
      s"query not answerable from a $rollupIntervalNs ns rollup over " +
        s"fields ${coveredFields(rollup).mkString("{", ",", "}")}")
    val interval = p.downsampleNs.get
    // [startNs, endNs] is a union of whole rollup windows (checked above),
    // so window containment == the raw path's inclusive timestamp range
    val (aligned, lastW) = QueryEngine.windowBounds(p, p.startNs, p.endNs.get)
    val rolled = rangeSlice(rollup, p)
      .withColumn("target_window",
        col("window_start") - pmod(col("window_start"), lit(interval)))
      .filter(col("target_window") <= lastW)
      .groupBy(col("series_key"), col("target_window"))
      .agg(first(col("metric")).as("metric"),
        (first(col("tags")).as("tags") +: p.aggs.map(reAgg)): _*)
      .withColumnRenamed("target_window", "window_start")
    // like runMerged: a LIMIT needs the Spark-side order (plans as
    // TakeOrdered); only un-limited callers may defer ordering (the
    // serving layer sorts collected rows driver-side)
    val shaped = QueryEngine.shapeDownsampled(rolled, rolled, p, aligned, lastW,
      ordered = ordered || p.limit.isDefined)
    QueryEngine.applyCursorLimit(shaped, p)
  }

  /** Tag-grouped twin of [[run]]: answer a GROUP BY TAGS downsample
    * ([[TsAnalytics.aggregateByTags]]) from the rollup partials. A
    * cross-SERIES merge is the same fold as the cross-WINDOW merge —
    * sums of sums, min of mins, stream-order first/last via the stored
    * ord keys, digest unions for percentiles — so the partials decompose
    * identically; only the grouping key changes (tag-tuple × window
    * instead of series × window). Row-identical to the raw operator
    * (spec-asserted; percentiles approximate per the digest contract).
    *
    * This is the acceleration that matters most for tag grouping at
    * scale: the raw operator reads every point of the metric, while this
    * reads |series|×windows partial rows — a month-long
    * `sum by (dc)(requests)` becomes a scan of the rollup frame. */
  /** True when per-bucket field AVERAGES over `[startNs, endNs]` can be
    * recomposed from a rollup at `intervalNs` covering `field`: aligned
    * buckets, whole-window range, field partials present — the
    * cross-metric analytics' (CORRELATE/RATIO) eligibility test. */
  def supportsBucketAvg(bucketNs: Long, startNs: Long, endNs: Long,
      intervalNs: Long, covered: Set[String], field: String): Boolean =
    bucketNs > 0 && bucketNs % intervalNs == 0 &&
      startNs % intervalNs == 0 && (endNs + 1) % intervalNs == 0 &&
      covered.contains(field)

  /** Per-(tagKey value, bucket) decomposed average + count of `field`
    * for ONE metric from its rollup partials: Σ window sums / Σ window
    * counts over the |series|×windows partial rows — the cross-metric
    * analytics' input frame, POINTS NEVER SCANNED. Output:
    * (tag_value, bucket, v, n). */
  def bucketStats(rollup: DataFrame, metric: String, tagKey: String,
      bucketNs: Long, startNs: Long, endNs: Long, field: String): DataFrame = {
    var df = rollup.filter(col("metric") === metric &&
      col("window_start").between(startNs, endNs))
    if (rollup.columns.contains("date"))
      df = df.filter(col("date").between(
        TsdbEngine.dayStr(startNs), TsdbEngine.dayStr(endNs)))
    df.withColumn("bucket",
        col("window_start") - pmod(col("window_start"), lit(bucketNs)))
      .withColumn("tag_value", col("tags").getItem(tagKey))
      .groupBy(col("tag_value"), col("bucket"))
      .agg(sum(col(s"${field}__sum")).as("__s"), sum(col(s"${field}__cnt")).as("__n"))
      .filter(col("__n") > 0)
      .select(col("tag_value"), col("bucket"),
        (col("__s") / when(col("__n") =!= 0, col("__n"))).as("v"),
        col("__n").as("n"))
  }

  def runByTags(rollup: DataFrame, rollupIntervalNs: Long, p: QueryParams,
      tagKeys: Seq[String]): DataFrame = {
    require(supports(p, rollupIntervalNs, coveredFields(rollup), hasDigests(rollup)),
      s"query not answerable from a $rollupIntervalNs ns rollup over " +
        s"fields ${coveredFields(rollup).mkString("{", ",", "}")}")
    require(p.fill == FillNone && !p.emitEmptyWindows && p.afterKey.isEmpty,
      "per-series shapes (FILL/EMIT EMPTY WINDOWS/AFTER) don't apply to GROUP BY TAGS")
    val interval = p.downsampleNs.get
    val (_, lastW) = QueryEngine.windowBounds(p, p.startNs, p.endNs.get)
    val tagCols = tagKeys.map(k => col("tags").getItem(k).as(s"tag_$k"))
    val keyRefs = tagKeys.map(k => col(s"tag_$k"))
    val grouped = rangeSlice(rollup, p)
      .withColumn("target_window",
        col("window_start") - pmod(col("window_start"), lit(interval)))
      .filter(col("target_window") <= lastW)
      .select(col("*") +: tagCols: _*)
      .groupBy(keyRefs :+ col("target_window"): _*)
      .agg(p.aggs.map(reAgg).head, p.aggs.map(reAgg).tail: _*)
      .withColumnRenamed("target_window", "window_start")
      .withColumn("window_end", col("window_start") + lit(interval))
    val ordering = (if (p.order == Ascending) col("window_start").asc
                    else col("window_start").desc) +: keyRefs.map(_.asc)
    val shaped = grouped
      .select(lit(p.metric).as("metric") +: keyRefs ++:
        col("window_start") +: col("window_end") +:
        p.aggs.map(s => col(s.outputName)): _*)
      .orderBy(ordering: _*)
    p.limit.fold(shaped)(n => shaped.limit(n.toInt))
  }

  /** True when a whole-range DELTA over `field` is answerable from this
    * rollup frame: the [[supportsAnalytic]] shape plus the stored
    * in-window increase partial (frames built before the `__inc` column
    * existed route raw). TAGGED composes — rollup rows carry tags. */
  def supportsDelta(p: QueryParams, rollupIntervalNs: Long,
      rollup: DataFrame, field: String): Boolean =
    routable(p, rollupIntervalNs, rollup, AnalyzeDelta(field))

  /** True when a PREDICT over `field` is answerable from this rollup
    * frame — the [[supportsDelta]] gating plus the stored time-moment
    * partials. */
  def supportsPredict(p: QueryParams, rollupIntervalNs: Long,
      rollup: DataFrame, field: String): Boolean =
    routable(p, rollupIntervalNs, rollup, AnalyzePredict(field, 0L))

  /** Least-squares trend + horizon forecast
    * ([[TsAnalytics.predictLinear]]'s output shape) re-aggregated from
    * rollup partials. The stored absolute-epoch moments merge across
    * windows as plain sums, then SHIFT to the query's anchor
    * (`s = startNs` in seconds): Σ(t−s) = Σt − s·n, Σ(t−s)v = Σtv −
    * s·Σv, Σ(t−s)² = Σt² − 2s·Σt + s²·n — exact algebra; the FP
    * re-association is ulp-level and the slope conditioning matches the
    * raw path's (same anchor). */
  def runPredict(rollup: DataFrame, rollupIntervalNs: Long, p: QueryParams,
      field: String, horizonNs: Long): DataFrame = {
    require(supportsPredict(p, rollupIntervalNs, rollup, field),
      s"PREDICT($field) not answerable from a $rollupIntervalNs ns rollup")
    require(horizonNs >= 0, "horizon must be non-negative")
    val g = rangeSlice(rollup, p).groupBy(col("series_key"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        sum(col(s"${field}__cnt")).as("n_points"),
        max(col(s"${field}__last_ord")).as("__lord"),
        sum(col(s"${field}__tsum")).as("__st"),
        sum(col(s"${field}__sum")).as("__sv"),
        sum(col(s"${field}__tvsum")).as("__stv"),
        sum(col(s"${field}__ttsum")).as("__stt"))
      .filter(col("n_points") > 0)
    val s = lit(p.startNs.toDouble / 1e9)
    val n = col("n_points").cast("double")
    val mt = (col("__st") - s * n) / n
    val mv = col("__sv") / n
    val mtv = (col("__stv") - s * col("__sv")) / n
    val mtt = (col("__stt") - lit(2.0) * s * col("__st") + s * s * n) / n
    val varT = mtt - mt * mt
    val slope = when(col("n_points") >= 2 && varT > 0, (mtv - mt * mv) / varT)
    val lastTs = col("__lord").getField("timestamp")
    val targetT = (lastTs - lit(p.startNs) + lit(horizonNs)).cast("double") / lit(1e9)
    g.withColumn("slope_per_sec", slope)
      .withColumn("predicted", mv + col("slope_per_sec") * (targetT - mt))
      .select(col("metric"), col("tags"), col("series_key"), col("n_points"),
        lastTs.as("last_ts"), col("slope_per_sec"), col("predicted"))
      .orderBy(col("series_key"))
  }

  /** Whole-range DELTA/INCREASE ([[TsAnalytics.rangeDelta]]'s output
    * shape) re-aggregated from rollup partials — |series| × windows rows
    * instead of raw points. The decomposition is exact: every
    * consecutive numeric pair in the range is either INSIDE one window
    * (counted by the stored `__inc` partial) or SPANS two non-empty
    * windows (recovered here as the reset-aware delta from the previous
    * non-empty window's last value to this window's first — a lag over
    * the tiny rollup frame). Gauge delta and the first/last timestamps
    * come from the stored ord structs. FP sums re-associate vs the raw
    * path (row-identical on integer-valued data, spec-pinned). */
  def runDelta(rollup: DataFrame, rollupIntervalNs: Long, p: QueryParams,
      field: String): DataFrame = {
    require(supportsDelta(p, rollupIntervalNs, rollup, field),
      s"DELTA($field) not answerable from a $rollupIntervalNs ns rollup")
    rangeSlice(rollup, p).withColumn("__bd", boundaryInc(field))
      .groupBy(col("series_key"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        sum(col(s"${field}__cnt")).as("n_points"),
        min(col(s"${field}__first_ord")).as("__ford"),
        max(col(s"${field}__last_ord")).as("__lord"),
        min_by(col(s"${field}__first"), col(s"${field}__first_ord")).as("__fv"),
        max_by(col(s"${field}__last"), col(s"${field}__last_ord")).as("__lv"),
        (coalesce(sum(col(s"${field}__inc")), lit(0.0)) +
          coalesce(sum(col("__bd")), lit(0.0))).as("__incsum"))
      .filter(col("n_points") > 0) // like the raw path: null-only series emit nothing
      .select(col("metric"), col("tags"), col("series_key"), col("n_points"),
        col("__ford").getField("timestamp").as("first_ts"),
        col("__lord").getField("timestamp").as("last_ts"),
        (col("__lv") - col("__fv")).as("delta"),
        col("__incsum").as("increase"))
      .orderBy(col("series_key"))
  }

  /** The boundary pair's reset-aware increase: previous non-empty
    * window's last value → this window's first (null when either side is
    * missing). */
  private def boundaryInc(field: String): Column = {
    val bf = col(s"${field}__first"); val pl = prevLast(field)
    when(bf.isNotNull && pl.isNotNull, when(bf < pl, bf).otherwise(bf - pl))
  }

  /** The boundary pair's reset and change indicators (`__br`, `__bc`). */
  private def withBoundaryTransitions(df: DataFrame, field: String): DataFrame = {
    val bf = col(s"${field}__first"); val pl = prevLast(field)
    val pairUp = bf.isNotNull && pl.isNotNull
    df.withColumn("__br", when(pairUp, when(bf < pl, lit(1L)).otherwise(lit(0L))))
      .withColumn("__bc", when(pairUp, when(bf =!= pl, lit(1L)).otherwise(lit(0L))))
  }

  /** Stored in-window counts plus the boundary indicators. */
  private def transitionCounts(field: String): Seq[Column] = Seq(
    (coalesce(sum(col(s"${field}__resets")), lit(0L)) +
      coalesce(sum(col("__br")), lit(0L))).as("resets"),
    (coalesce(sum(col(s"${field}__changes")), lit(0L)) +
      coalesce(sum(col("__bc")), lit(0L))).as("changes"))

  /** True when RESETS/CHANGES over `field` are answerable from this
    * rollup frame: the [[supportsAnalytic]] shape with the stored
    * transition-count partials (frames built before the `__resets`
    * column existed route raw). */
  def supportsTransitions(p: QueryParams, rollupIntervalNs: Long,
      rollup: DataFrame, field: String): Boolean =
    routable(p, rollupIntervalNs, rollup, AnalyzeResets(field))

  /** Counter-transition counts ([[TsAnalytics.transitions]]'s output
    * shape) re-aggregated from rollup partials. The decomposition is the
    * same as [[runDelta]]'s and EXACT in both value and representation
    * (long counts, no FP re-association): every consecutive numeric pair
    * is either inside one window (counted by the stored
    * `__resets`/`__changes` partials) or spans two non-empty windows —
    * recovered here by comparing the previous non-empty window's last
    * value against this window's first (a lag over the tiny rollup
    * frame). */
  def runTransitions(rollup: DataFrame, rollupIntervalNs: Long,
      p: QueryParams, field: String): DataFrame = {
    require(supportsTransitions(p, rollupIntervalNs, rollup, field),
      s"RESETS/CHANGES($field) not answerable from a " +
        s"$rollupIntervalNs ns rollup")
    withBoundaryTransitions(rangeSlice(rollup, p), field)
      .groupBy(col("series_key"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags") +:
        sum(col(s"${field}__cnt")).as("n_points") +: transitionCounts(field): _*)
      .filter(col("n_points") > 0) // like the raw path: null-only series emit nothing
      .select(col("metric"), col("tags"), col("series_key"), col("n_points"),
        col("resets"), col("changes"))
      .orderBy(col("series_key"))
  }

  /** True when WINDOWED transition counts (`ANALYZE RESETS/CHANGES(f)
    * BY windowNs`) are answerable from this rollup frame: the
    * [[supportsTransitions]] gating plus the target window being a
    * multiple of the grain. */
  def supportsTransitionsBy(p: QueryParams, rollupIntervalNs: Long,
      rollup: DataFrame, field: String, windowNs: Long): Boolean =
    routable(p, rollupIntervalNs, rollup, AnalyzeResetsBy(field, windowNs))

  /** Windowed transition counts ([[TsAnalytics.windowedTransitions]]'s
    * output shape) re-aggregated from rollup partials — the
    * [[runTransitions]] decomposition grouped by TARGET window instead
    * of collapsing the series (the [[runDeltaBy]] shape): a boundary
    * pair belongs to the later point's target window, and epoch
    * alignment + grain divisibility mean a rollup window never
    * straddles a target boundary. Long counts — BIT-identical to the
    * raw operator. */
  def runTransitionsBy(rollup: DataFrame, rollupIntervalNs: Long,
      p: QueryParams, field: String, windowNs: Long): DataFrame = {
    require(supportsTransitionsBy(p, rollupIntervalNs, rollup, field, windowNs),
      s"RESETS/CHANGES($field) BY $windowNs not answerable from a " +
        s"$rollupIntervalNs ns rollup")
    // boundary lag runs across the WHOLE range ([[runDeltaBy]] note)
    withBoundaryTransitions(rangeSlice(rollup, p), field)
      .withColumn("target_window",
        col("window_start") - pmod(col("window_start"), lit(windowNs)))
      .groupBy(col("series_key"), col("target_window"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags") +:
        sum(col(s"${field}__cnt")).as("n_points") +: transitionCounts(field): _*)
      .filter(col("n_points") > 0) // target windows with no numeric samples
      .select(col("metric"), col("tags"), col("series_key"),
        col("target_window").as("window_start"), col("n_points"),
        col("resets"), col("changes"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** True when a WINDOWED delta (`ANALYZE DELTA(f) BY windowNs`) is
    * answerable from this rollup frame: the [[supportsDelta]] gating
    * plus the target window being a multiple of the rollup grain (so
    * every rollup window maps into exactly one target window and the
    * per-window decomposition is exact). */
  def supportsDeltaBy(p: QueryParams, rollupIntervalNs: Long,
      rollup: DataFrame, field: String, windowNs: Long): Boolean =
    routable(p, rollupIntervalNs, rollup, AnalyzeDeltaBy(field, windowNs))

  /** Windowed DELTA/INCREASE ([[TsAnalytics.windowedDelta]]'s output
    * shape) re-aggregated from rollup partials. Same decomposition as
    * [[runDelta]] — in-window `__inc` partials plus boundary pairs from
    * a lag over the tiny rollup frame — but grouped by the TARGET
    * window instead of collapsing the series: a boundary pair (previous
    * non-empty rollup window's last sample → this window's first)
    * belongs to the later point's target window, exactly the raw
    * operator's continuous-counter contract, and epoch alignment +
    * grain divisibility mean a rollup window never straddles a target
    * boundary. Per-target gauge delta / n_points come from the stored
    * ord structs and counts. */
  def runDeltaBy(rollup: DataFrame, rollupIntervalNs: Long, p: QueryParams,
      field: String, windowNs: Long): DataFrame = {
    require(supportsDeltaBy(p, rollupIntervalNs, rollup, field, windowNs),
      s"DELTA($field) BY $windowNs not answerable from a " +
        s"$rollupIntervalNs ns rollup")
    // boundary lag runs across the WHOLE range (continuous-counter
    // semantics — the pair crossing a target boundary lands in the later
    // target), not per target window
    rangeSlice(rollup, p).withColumn("__bd", boundaryInc(field))
      .withColumn("target_window",
        col("window_start") - pmod(col("window_start"), lit(windowNs)))
      .groupBy(col("series_key"), col("target_window"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        sum(col(s"${field}__cnt")).as("n_points"),
        min_by(col(s"${field}__first"), col(s"${field}__first_ord")).as("__fv"),
        max_by(col(s"${field}__last"), col(s"${field}__last_ord")).as("__lv"),
        (coalesce(sum(col(s"${field}__inc")), lit(0.0)) +
          coalesce(sum(col("__bd")), lit(0.0))).as("__incsum"))
      .filter(col("n_points") > 0) // target windows with no numeric samples emit nothing
      .select(col("metric"), col("tags"), col("series_key"),
        col("target_window").as("window_start"), col("n_points"),
        (col("__lv") - col("__fv")).as("delta"),
        col("__incsum").as("increase"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** True when a TWA at `p.downsampleNs` is answerable from this rollup
    * frame: the [[supportsDelta]] gating, plus the TWA interval being a
    * multiple of the grain, plus the frame physically storing the
    * in-window LOCF integral partial. */
  def supportsTwa(p: QueryParams, rollupIntervalNs: Long,
      rollup: DataFrame, field: String): Boolean =
    routable(p, rollupIntervalNs, rollup,
      AnalyzeTwa(field, p.downsampleNs.getOrElse(0L)))

  /** Time-weighted average ([[TsAnalytics.timeWeightedAvg]]'s output
    * shape) re-aggregated from rollup partials — |series|×windows rows
    * instead of raw points. Decomposition per rollup window r inside
    * target window W (grain divides the TWA interval, so r ⊂ W):
    *
    *  - every non-last numeric sample's LOCF weight closes INSIDE r —
    *    their Σ v·dt is the stored `__area` partial;
    *  - the LAST sample's weight runs to `min(next, W_end)` where `next`
    *    is the next non-empty rollup window's first sample timestamp
    *    (a lead over the tiny rollup frame — the raw path's range-wide
    *    lead observed at rollup-window granularity);
    *  - in-window gaps telescope, so r's weight-sum is just
    *    `min(next, W_end) − first_ts` — exact in long ns.
    *
    * The weighted mean re-associates the FP numerator vs the raw path's
    * single sum (same v·dt products, different grouping) — the same
    * ulp-level contract as [[runDelta]], spec-pinned. */
  def runTwa(rollup: DataFrame, rollupIntervalNs: Long, p: QueryParams,
      field: String): DataFrame = {
    require(supportsTwa(p, rollupIntervalNs, rollup, field),
      s"TWA($field) not answerable from a $rollupIntervalNs ns rollup")
    val interval = p.downsampleNs.get
    // drop windows with no numeric samples BEFORE the lead so `next`
    // skips them (the raw path's lead is over numeric samples only)
    val df = rangeSlice(rollup, p).filter(col(s"${field}__cnt") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_key")).orderBy(col("window_start"))
    val nextFirst = lead(col(s"${field}__first_ord").getField("timestamp"), 1).over(w)
    val target = col("window_start") - pmod(col("window_start"), lit(interval))
    val wEnd = col("target_window") + lit(interval)
    val firstTs = col(s"${field}__first_ord").getField("timestamp")
    val lastTs = col(s"${field}__last_ord").getField("timestamp")
    val closeTs = least(coalesce(col("__next"), wEnd), wEnd)
    val num = coalesce(col(s"${field}__area"), lit(0.0)) +
      col(s"${field}__last") * (closeTs - lastTs).cast("double")
    val den = (closeTs - firstTs).cast("double")
    val grouped = df
      .withColumn("__next", nextFirst)
      .withColumn("target_window", target)
      .withColumn("__num", num)
      .withColumn("__den", den)
      .groupBy(col("series_key"), col("target_window"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        (sum(col("__num")) / when(sum(col("__den")) =!= 0.0, sum(col("__den"))))
          .as("twa"),
        sum(col(s"${field}__cnt")).as("n_points"))
    grouped.select(col("metric"), col("tags"), col("series_key"),
        col("target_window").as("window_start"), col("twa"), col("n_points"))
      .orderBy(col("series_key"), col("window_start"))
  }

  /** The range-start condition of a windowed smoothing route (one
    * limit-1 job): no matched non-empty window before startNs. The
    * stored state folds from each series' FIRST sample, so a mid-stream
    * start would make the raw twin re-seed and the states diverge.
    * [[TsdbEngine]] short-circuits it with a cached per-(metric, epoch)
    * min-window bound — any frame whose FIRST stored window is ≥ startNs
    * passes for every tag subset without a job (the common "from the
    * beginning" dashboard). */
  def smoothRangeStartProbe(rollup: DataFrame, p: QueryParams,
      s: SmoothSpec): Boolean = {
    var df = rollup.filter(col("metric") === p.metric)
    p.tags.foreach { case (k, v) => df = df.filter(TagMatch.pred(k, v)) }
    df.filter(col(s"${s.field}__cnt") > 0 &&
      col("window_start") < p.startNs).isEmpty
  }

  /** Windowed smoothing ([[TsAnalytics.ewmaSmoothBy]] /
    * [[TsAnalytics.holtSmoothBy]]'s output shape) served from stored
    * fold states — |series|×windows rows, never raw points. The target
    * window's state is the stored state of its LAST non-empty rollup
    * window (the fold is a running prefix — sampling it at a coarser
    * boundary IS the finer sample at that boundary), so any `windowNs`
    * that is a multiple of the grain serves BIT-identically to the raw
    * operator. Caller must have checked [[smoothRangeStartProbe]] (it
    * costs a job, so it is not re-run here). */
  def runSmoothBy(rollup: DataFrame, rollupIntervalNs: Long, p: QueryParams,
      s: SmoothSpec, windowNs: Long): DataFrame = {
    require(routable(p, rollupIntervalNs, rollup, AnalyzeRoutes.smoothBy(s, windowNs)),
      s"${s.kind.toUpperCase}(${s.field}) BY $windowNs not answerable " +
        s"from a $rollupIntervalNs ns rollup")
    val lastOrd = col(s"${s.field}__last_ord")
    val grouped = rangeSlice(rollup, p).filter(col(s"${s.field}__cnt") > 0)
      .withColumn("target_window",
        col("window_start") - pmod(col("window_start"), lit(windowNs)))
      .groupBy(col("series_key"), col("target_window"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
        sum(col(s"${s.field}__cnt")).as("n_points"),
        max(lastOrd.getField("timestamp")).as("last_ts"),
        max_by(col(s"${s.field}__last"), lastOrd).as("value"),
        max_by(col(smoothStateCol(s)), lastOrd).as("__st"))
    val base = grouped.select(col("metric"), col("tags"), col("series_key"),
      col("target_window").as("window_start"), col("n_points"),
      col("last_ts"), col("value"), col("__st"))
    val out = s.kind match {
      case "ewma" => base.withColumn("ewma", col("__st"))
      case "holt" => base
        .withColumn("level", col("__st").getField("level"))
        .withColumn("trend", col("__st").getField("trend"))
        .withColumn("forecast",
          col("__st").getField("level") + col("__st").getField("trend"))
    }
    out.drop("__st").orderBy(col("series_key"), col("window_start"))
  }
}
