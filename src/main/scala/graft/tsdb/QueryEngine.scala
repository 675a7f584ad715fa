package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Compiles a `QueryParams` (the reference's `core.QueryParams`,
  * `core/query.go:29-42`) into a declarative DataFrame plan over the
  * canonical point stream (schema `DataPoint.storageSchema`:
  * metric, tags, timestamp(ns), fields, seq).
  *
  * The reference executes queries as a hand-wired iterator chain
  * (`engine2/adapter.go:1103-1396`): tag-index bitmap intersection →
  * per-series range scan → k-way merge with latest-version dedup and
  * tombstone elision → optional aggregation → cursor skip. Here every
  * stage is a Catalyst-optimizable transformation instead:
  *
  *  - series resolution (F1/F7) = metric/tag equality filters, pushed to
  *    the parquet scan (replaces the roaring-bitmap tag index);
  *  - time-range scan (F3) = `timestamp BETWEEN` — inclusive BOTH ends
  *    (`engine2/adapter.go:2798-2803`) — pruned by row-group stats
  *    (replaces SSTable min/max pruning F4);
  *  - latest-version-wins (M1) = max_by(row, seq) per (series, ts)
  *    (replaces the merge heap's seq-desc tie break,
  *    `iterator/iterator.go:60-62`);
  *  - tombstones (M2-M4) = predicate (or broadcast anti-join at scale)
  *    honoring the sequence-number shadowing rule;
  *  - A1/A2 aggregation = groupBy with the `AggFunctions` registry.
  *
  * At 100 TB the plan shape matters: the only shuffle is the single
  * hash-partition on (series_key, time-bucket) — dedup + downsample share
  * it because the exchange key is a subset of both clusterings, and the
  * time component spreads a hot series across tasks (skew salting) —
  * aggregation is partial+final (map-side combine), and the scan carries
  * pushed filters for metric/tags/time so partition+row-group pruning does
  * what the LSM's bloom filters and key-range checks did.
  */
object QueryEngine {

  /** series-key Column matching `SeriesKey.of` (sorted `k=v` joined on ). */
  def seriesKeyCol(metric: Column, tags: Column): Column = {
    val entries = array_join(
      transform(array_sort(map_entries(tags)),
        e => concat(e.getField("key"), lit("="), e.getField("value"))),
      SeriesKey.Sep)
    when(size(map_entries(tags)) === 0, metric)
      .otherwise(concat(metric, lit(SeriesKey.Sep), entries))
  }

  /** Resolve the effective inclusive [start, end] window.
    * End=None → now; RELATIVE(d) → end = min(now, max data ts), start =
    * end − d (`engine2/adapter.go:1117-1120`, `:1236-1276`). Resolving
    * against max-data-ts needs one scalar action over the series-filtered
    * frame, and only then is `filtered` evaluated. The max is taken over
    * VISIBLE rows: a raw (pre-merge) frame passes its `tombstones`, so a
    * deleted newest point never sets `end` — the same answer a merged
    * frame (tombstones already applied, `Nil` here) gives. The version
    * merge itself cannot move the max: it only collapses versions of one
    * (series, ts), and a tombstone covering the newest version covers
    * every older one. */
  def resolveRange(filtered: => DataFrame, p: QueryParams,
      tombstones: Seq[Tombstone] = Nil): (Long, Long) = {
    val now = p.nowNs.getOrElse(System.currentTimeMillis() * 1000000L)
    p.relativeNs match {
      case Some(d) =>
        val df = filtered
        val visible =
          if (tombstones.isEmpty) df else applyTombstones(withSeriesKey(df), tombstones)
        val maxTs = visible.agg(max(col("timestamp"))).head().get(0)
        val dataMax = if (maxTs == null) now else maxTs.asInstanceOf[Long]
        val end = math.min(now, dataMax)
        (end - d, end)
      case None =>
        (p.startNs, p.endNs.filter(_ != 0L).getOrElse(now))
    }
  }

  /** Above this many tombstones the literal predicate chain (one OR branch
    * per tombstone, evaluated per row) gives way to a broadcast anti-join
    * — O(rows) with a hashed lookup instead of O(rows × tombstones). */
  private[graft] var antiJoinThreshold: Int = 64

  /** `df` with the canonical `series_key`, reusing a present one (r18):
    * frames off the storage layout or the keyed events view already carry
    * it — recomputing would run the per-row lambda chain again for
    * identical bytes. */
  private[tsdb] def withSeriesKey(df: DataFrame): DataFrame =
    if (df.columns.contains("series_key")) df
    else df.withColumn("series_key", seriesKeyCol(col("metric"), col("tags")))

  /** survive-filter for tombstones: drop a point iff some tombstone covers
    * its series/time AND has seq >= the point's seq. */
  private[tsdb] def applyTombstones(df: DataFrame, tombs: Seq[Tombstone]): DataFrame = {
    if (tombs.isEmpty) df
    else if (tombs.size <= antiJoinThreshold) {
      val dead = tombs.map {
        case PointTombstone(m, tg, t, sq) =>
          col("series_key") === SeriesKey.of(m, tg) &&
            col("timestamp") === t && col("seq") <= sq
        case SeriesTombstone(m, tg, sq) =>
          col("series_key") === SeriesKey.of(m, tg) && col("seq") <= sq
        case RangeTombstone(m, tg, a, b, sq) =>
          col("series_key") === SeriesKey.of(m, tg) &&
            col("timestamp").between(a, b) && col("seq") <= sq
      }.reduce(_ || _)
      df.filter(!dead)
    } else {
      // broadcast anti-join per tombstone kind; ranges/series keep a
      // non-equi seq/time condition next to the hashed series_key equality
      val spark = df.sparkSession
      import spark.implicits._
      def anti(rows: Seq[(String, Long, Long, Long)], cond: DataFrame => Column) = {
        (base: DataFrame) =>
          if (rows.isEmpty) base
          else {
            val t = broadcast(rows.toDF("t_key", "t_a", "t_b", "t_seq"))
            base.join(t, cond(t), "left_anti")
          }
      }
      val points = tombs.collect { case PointTombstone(m, tg, ts, sq) =>
        (SeriesKey.of(m, tg), ts, ts, sq) }
      val series = tombs.collect { case SeriesTombstone(m, tg, sq) =>
        (SeriesKey.of(m, tg), 0L, 0L, sq) }
      val ranges = tombs.collect { case RangeTombstone(m, tg, a, b, sq) =>
        (SeriesKey.of(m, tg), a, b, sq) }
      val steps = Seq(
        anti(points, t => col("series_key") === t("t_key") &&
          col("timestamp") === t("t_a") && col("seq") <= t("t_seq")),
        anti(series, t => col("series_key") === t("t_key") && col("seq") <= t("t_seq")),
        anti(ranges, t => col("series_key") === t("t_key") &&
          col("timestamp").between(t("t_a"), t("t_b")) && col("seq") <= t("t_seq")))
      steps.foldLeft(df)((acc, step) => step(acc))
    }
  }

  /** The merged logical view of raw storage: latest-version-wins per
    * (series, timestamp) with tombstoned rows removed — what the
    * reference's merging iterator exposes (`iterator/iterator.go:244-294`)
    * and what compaction materializes. */
  def mergedView(points: DataFrame, tombstones: Seq[Tombstone]): DataFrame = {
    val keyed = withSeriesKey(points)
    val w = Window.partitionBy(col("series_key"), col("timestamp"))
      .orderBy(col("seq").desc)
    val deduped = keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    applyTombstones(deduped, tombstones)
  }

  /** Test seam: `false` restores series_key-only partitioning so the
    * property suite can prove time-salting changes plans, never results. */
  private[graft] var timeSalting: Boolean = true

  /** Steps 1-3 of the pipeline: series resolution, time range, series key,
    * and the single skew-safe hash-repartition. Split out so specs can
    * observe the partitioning directly (spark_partition_id spread).
    * Returns the partitioned frame plus the resolved [start, end]; a
    * RELATIVE range resolves against the rows `tombstones` leave visible
    * ([[resolveRange]]). */
  private[graft] def partitionedInput(points: DataFrame, p: QueryParams,
      tombstones: Seq[Tombstone] = Nil): (DataFrame, Long, Long) = {
    // 1. series resolution: metric + tag equality (AND of equalities — the
    //    reference's bitmap intersection, `indexer/tag_index_manager2.go:247-280`)
    var df = points.filter(TagMatch.metricPred(p.metric))
    p.tags.foreach { case (k, v) => df = df.filter(TagMatch.pred(k, v)) }

    // 2. time range (inclusive both ends). When the frame carries the
    //    storage layer's `date` partition column, the same bounds are
    //    restated against it — a filter on `timestamp` alone prunes row
    //    groups, but only a filter on the PARTITION column prunes whole
    //    date directories before any footer is read (asserted in PlanSpec).
    val (startNs, endNs) = resolveRange(df, p, tombstones)
    df = df.filter(col("timestamp").between(startNs, endNs))
    if (points.columns.contains("date"))
      df = df.filter(col("date").between(
        TsdbEngine.dayStr(startNs), TsdbEngine.dayStr(endNs)))

    // 3. series key + ONE explicit hash-repartition whose key set is a
    //    syntactic subset of every downstream clustering — the dedup
    //    window's and the downsample groupBy's — so EnsureRequirements
    //    inserts no further exchange and the whole merge+aggregate
    //    pipeline runs off a single shuffle (vs 2-3 otherwise). The key
    //    always carries a TIME component next to series_key — the window
    //    bucket when downsampling, the raw timestamp otherwise — so a
    //    pathologically hot series (one key holding most rows) spreads
    //    across tasks instead of serializing into one. `window_start` is
    //    computed HERE, before the shuffle, and reused downstream:
    //    recomputing it post-shuffle would re-alias the attribute and
    //    orphan the child partitioning (= a second exchange).
    df = withSeriesKey(df)
    val timeKey =
      if (p.isDownsample) {
        val interval = p.downsampleNs.get
        require(interval > 0, "downsample interval must be > 0")
        df = df.withColumn("window_start",
          col("timestamp") - pmod(col("timestamp"), lit(interval)))
        col("window_start")
      } else col("timestamp")
    val partitioned =
      if (timeSalting) df.repartition(col("series_key"), timeKey)
      else df.repartition(col("series_key"))
    (partitioned, startNs, endNs)
  }

  /** Full pipeline. `points` must have the canonical storage schema. */
  def run(points: DataFrame, p: QueryParams, tombstones: Seq[Tombstone] = Nil): DataFrame = {
    val (input, startNs, endNs) = partitionedInput(points, p, tombstones)
    var df = input

    //    latest-version dedup (M1). For downsample the window adds the
    //    (ts-functional, hence semantics-preserving) window_start key so
    //    hash(sk, window_start) satisfies its clustering without a new
    //    exchange.
    val dedupKeys =
      if (p.isDownsample) Seq(col("series_key"), col("window_start"), col("timestamp"))
      else Seq(col("series_key"), col("timestamp"))
    val w = Window.partitionBy(dedupKeys: _*).orderBy(col("seq").desc)
    df = df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")

    // 4. tombstone elision (M2-M4)
    df = applyTombstones(df, tombstones)

    // 4b. value predicate — after merge+tombstones (a shadowed version
    // must never satisfy a filter its replacement fails), before shaping
    df = applyValueFilter(df, p)

    // 5-6. shape + cursor + limit
    finish(df, p, startNs, endNs)
  }

  /** [[ValueFilter]] on the field's cleaned numeric view; null and
    * non-numeric values never match (SQL comparison semantics). */
  private[tsdb] def applyValueFilter(df: DataFrame, p: QueryParams): DataFrame =
    p.valueFilters.foldLeft(df) { (acc, f) =>
      val v = numericOf(f.field)
      val pred = f.op match {
        case ">"  => v > f.value
        case ">=" => v >= f.value
        case "<"  => v < f.value
        case "<=" => v <= f.value
        case "="  => v === f.value
        case "!=" => v =!= f.value
      }
      acc.filter(pred)
    }

  /** Serving-path pipeline over a PRE-MERGED frame (latest-version dedup +
    * tombstones already applied — the engine's per-metric serving view).
    * Results are identical to [[run]]: the merged view is
    * query-shape-independent (dedup on (series, ts) commutes with any
    * downstream time filter, aggregation, or ordering), so only the
    * filter/shape/order stages replan per query — the merge shuffle and
    * the parquet scan are paid once per (metric, commit) instead of per
    * query. */
  def runMerged(merged: DataFrame, p: QueryParams, ordered: Boolean = true): DataFrame = {
    var df = merged.filter(TagMatch.metricPred(p.metric))
    p.tags.foreach { case (k, v) => df = df.filter(TagMatch.pred(k, v)) }
    val (startNs, endNs) = resolveRange(df, p)
    df = df.filter(col("timestamp").between(startNs, endNs))
    df = applyValueFilter(df, p) // merged input: post-merge by construction
    if (p.isDownsample) {
      val interval = p.downsampleNs.get
      require(interval > 0, "downsample interval must be > 0")
      df = df.withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(interval)))
    }
    // LIMIT needs the order to be deterministic, and Spark plans ordered
    // limits as TakeOrdered (partial per-partition top-K, no sort
    // exchange) — so only UN-limited queries may defer ordering to the
    // caller (the serving layer sorts collected rows driver-side, saving
    // the global-sort exchange + its sampling job).
    finish(df, p, startNs, endNs, ordered = ordered || p.limit.isDefined)
  }

  /** Steps 5-6, shared by [[run]] and [[runMerged]]: shape (raw | final
    * agg | downsample), then cursor + limit. */
  private def finish(df: DataFrame, p: QueryParams, startNs: Long, endNs: Long,
      ordered: Boolean = true): DataFrame = {
    val shaped =
      if (p.isDownsample) downsample(df, p, startNs, endNs, ordered)
      else if (p.isFinalAgg) finalAgg(df, p, startNs)
      else rawScan(df, p, ordered)

    val limited = applyCursorLimit(shaped, p)
    if (p.isFinalAgg) limited.drop("series_key") else limited
  }

  /** W3 cursor + W2 limit over a shaped result — shared with [[Rollup]]. */
  private[tsdb] def applyCursorLimit(shaped: DataFrame, p: QueryParams): DataFrame = {
    val afterCursor = p.afterKey match {
      case Some(c) =>
        val tsc = if (p.isDownsample) col("window_start") else col("timestamp")
        val pred =
          if (p.order == Ascending)
            tsc > c.timestamp || (tsc === c.timestamp && col("series_key") > c.seriesKey)
          else tsc < c.timestamp || (tsc === c.timestamp && col("series_key") < c.seriesKey)
        shaped.filter(pred)
      case None => shaped
    }
    p.limit.fold(afterCursor)(n => afterCursor.limit(n.toInt))
  }

  private def orderCols(p: QueryParams, tsc: Column): Seq[Column] =
    if (p.order == Ascending) Seq(tsc.asc, col("series_key").asc)
    else Seq(tsc.desc, col("series_key").desc)

  private def rawScan(df: DataFrame, p: QueryParams, ordered: Boolean = true): DataFrame = {
    val sel = df.select("metric", "tags", "timestamp", "fields", "seq", "series_key")
    if (ordered) sel.orderBy(orderCols(p, col("timestamp")): _*) else sel
  }

  // field accessors over the dynamic fields map (shared with [[Rollup]])
  private def fv(f: String): Column = col("fields").getItem(f)
  private[tsdb] def numericOf(f: String): Column =
    AggFunctions.cleanNumeric(coalesce(fv(f).getField("d"), fv(f).getField("l").cast("double")))
  private[tsdb] def anyNonNullOf(f: String): Column = {
    val v = fv(f)
    when(v.isNotNull && (v.getField("d").isNotNull || v.getField("l").isNotNull ||
      v.getField("s").isNotNull || v.getField("b").isNotNull), lit(1))
  }

  /** Materialize each aggregated field's kernel inputs ONCE as columns
    * (r18): the cleaned numeric (`__agg_n_<f>`), the any-type non-null
    * marker (`__agg_any_<f>`) and the null-gated stream-ord struct
    * (`__agg_vord_<f>`). The downsample/final aggregations plan as
    * SortAggregate whenever a first/last/frac/percentile spec brings a
    * struct or digest buffer, and SortAggregate evaluates its input
    * expressions INTERPRETED with no common-subexpression elimination —
    * inline, every spec re-ran the fields-map extract + NaN/Inf CASE
    * chain (and the ord gate) per row. This projection always sits ABOVE
    * the query's one hash exchange (partitionedInput/merged frames), so
    * the materialized struct never widens a shuffle. */
  private[tsdb] def withAggInputs(df: DataFrame, p: QueryParams): DataFrame = {
    val fields = p.aggs.map(_.field).filter(_ != "*").distinct
    if (fields.isEmpty) df
    else {
      // stream order for first/last: (ts asc, series_key asc, seq desc) —
      // the k-way merge emission order, `iterator/iterator.go:35-63`.
      val ord = struct(col("timestamp"), col("series_key"),
        (col("seq") * -1).as("negseq"))
      val cols = fields.flatMap { f =>
        val n = numericOf(f)
        Seq(n.as(s"__agg_n_$f"), anyNonNullOf(f).as(s"__agg_any_$f"),
          when(n.isNotNull, ord).as(s"__agg_vord_$f"))
      }
      df.select(col("*") +: cols: _*)
    }
  }

  /** Aggregate Columns for `p.aggs` over the [[withAggInputs]] columns —
    * callers must have applied [[withAggInputs]] to the frame first. */
  private[tsdb] def aggColumns(p: QueryParams): Seq[Column] = {
    p.aggs.map { s =>
      val star = s.field == "*"
      val numeric =
        if (star) lit(null).cast("double") else col(s"__agg_n_${s.field}")
      val nonNull = if (star) lit(1) else col(s"__agg_any_${s.field}")
      val vord =
        if (star) lit(null) else col(s"__agg_vord_${s.field}")
      AggFunctions.build(s, numeric, nonNull, vord)
    }
  }

  /** A1: one row for the whole range, keyed by metric at query start time
    * (`engine2/adapter.go:1350-1364`). */
  private def finalAgg(df: DataFrame, p: QueryParams, startNs: Long): DataFrame = {
    val cols = aggColumns(p)
    withAggInputs(df, p).agg(cols.head, cols.tail: _*)
      .select(lit(p.metric).as("metric") +: lit(startNs).as("timestamp") +:
        p.aggs.map(s => col(s.outputName)): _*)
  }

  /** A2: epoch-aligned tumbling windows, one row per (series, window)
    * (`iterator/multi_field_downsampling_iterator.go:93-476`). Windows run
    * from `start − start % interval` and stop before `end`
    * (`:180-190`); `EmitEmptyWindows` fills gaps with count/sum 0 and NaN
    * for the other functions (`:305-333` — rationalized: every series in
    * the result emits its empty windows, not just the last-seen one). */
  /** Epoch-aligned [first, last] emitted window starts for a range:
    * windows run from `start − start % interval` and stop before `end`. */
  private[tsdb] def windowBounds(p: QueryParams, startNs: Long, endNs: Long): (Long, Long) = {
    val interval = p.downsampleNs.get
    val aligned = startNs - floorMod(startNs, interval)
    // last emitted window start: largest multiple of interval < endNs
    val lastW = if (endNs <= aligned) aligned
                else aligned + ((endNs - 1 - aligned) / interval) * interval
    (aligned, lastW)
  }

  private def downsample(df: DataFrame, p: QueryParams, startNs: Long, endNs: Long,
      ordered: Boolean = true): DataFrame = {
    val (aligned, lastW) = windowBounds(p, startNs, endNs)

    // `window_start` was computed upstream of the shuffle (partitionedInput)
    // precisely so this groupBy rides the same exchange — reuse, don't
    // recompute (a fresh alias would orphan the child partitioning).
    val bucketed = withAggInputs(df.filter(col("window_start") <= lastW), p)
    val aggd = bucketed
      .groupBy(col("series_key"), col("window_start"))
      .agg(first(col("metric")).as("metric"),
        (first(col("tags")).as("tags") +: aggColumns(p)): _*)
    shapeDownsampled(aggd, df, p, aligned, lastW, ordered)
  }

  /** Post-aggregation downsample shaping — empty-window fill (series drawn
    * from `seriesSource`), gap-fill policy ([[FillMode]]), window_end,
    * column order, sort. Shared with [[Rollup]], whose re-aggregated
    * partials arrive pre-grouped.
    *
    * FILL(PREVIOUS|LINEAR) adds per-series window passes over the slot
    * grid. The grid is OUTPUT-sized (|series| × windows, independent of
    * raw point count), so the extra exchange to series_key-only
    * partitioning is over the already-aggregated frame — at 100 TB the
    * scan/aggregate stages dominate and are unchanged. */
  private[tsdb] def shapeDownsampled(aggd: DataFrame, seriesSource: DataFrame,
      p: QueryParams, aligned: Long, lastW: Long, ordered: Boolean): DataFrame = {
    val interval = p.downsampleNs.get
    val out =
      if (!p.emitsWindows) aggd
      else {
        // all (series × window) slots, then left-join the filled buckets in
        // (distinct via groupBy on the string key — MapType tags are not
        // comparable, so they ride along as first())
        val series = seriesSource.groupBy(col("series_key"))
          .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"))
        val slots = series.withColumn("window_start",
          explode(sequence(lit(aligned), lit(lastW), lit(interval))))
        // `__hit` marks slots that matched a real aggregated bucket — the
        // gap indicator for fill (an agg column can't stand in: a present
        // window's avg over all-null values is legitimately NaN, not a gap)
        val joined = slots.join(
          aggd.drop("metric", "tags").withColumn("__hit", lit(1)),
          Seq("series_key", "window_start"), "left")
        val gap = col("__hit").isNull
        val wAsc = Window.partitionBy(col("series_key"))
          .orderBy(col("window_start"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wDesc = Window.partitionBy(col("series_key"))
          .orderBy(col("window_start").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def prevOf(c: Column): Column =
          last(when(!gap, c), ignoreNulls = true).over(wAsc)
        def nextOf(c: Column): Column =
          last(when(!gap, c), ignoreNulls = true).over(wDesc)
        val fills = p.aggs.map { s =>
          val c = col(s.outputName)
          val filled = s.func match {
            // count/sum of an empty window are 0 by definition, not
            // missing — they keep their values under every fill mode
            case "count" => coalesce(c, lit(0L))
            case "sum"   => coalesce(c, lit(0.0))
            case _ => p.fill match {
              case FillNone => coalesce(c, AggFunctions.nan)
              case FillPrevious =>
                // LOCF: gaps take the series' most recent present window's
                // value (NaN included — fill carries what was emitted);
                // leading gaps keep the default
                when(gap, coalesce(prevOf(c), AggFunctions.nan))
                  .otherwise(coalesce(c, AggFunctions.nan))
              case FillLinear =>
                val pv = prevOf(c); val pw = prevOf(col("window_start"))
                val nv = nextOf(c); val nw = nextOf(col("window_start"))
                val frac = (col("window_start") - pw).cast("double") /
                  (nw - pw).cast("double")
                val interp = pv + (nv - pv) * frac
                // only gaps strictly between two present windows
                // interpolate; leading/trailing gaps keep the default
                when(gap, coalesce(when(pw.isNotNull && nw.isNotNull, interp),
                    AggFunctions.nan))
                  .otherwise(coalesce(c, AggFunctions.nan))
            }
          }
          filled.as(s.outputName)
        }
        joined.select(col("series_key") +: col("window_start") +: col("metric") +:
            col("tags") +: fills: _*)
      }

    val sel = out.withColumn("window_end", col("window_start") + interval)
      .select(Seq(col("metric"), col("tags"), col("series_key"), col("window_start"),
        col("window_end")) ++ p.aggs.map(s => col(s.outputName)): _*)
    if (ordered) sel.orderBy(orderCols(p, col("window_start")): _*) else sel
  }

  private def floorMod(a: Long, b: Long): Long = java.lang.Math.floorMod(a, b)
}
