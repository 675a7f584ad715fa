package graft.tsdb

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Driver-resident rollup serving: answer rollup-eligible queries by
  * folding COLLECTED rollup partial rows in pure Scala — no Spark job, no
  * plan, no codegen.
  *
  * Why it exists: a materialized rollup is small BY CONSTRUCTION
  * (|series| × range/interval rows, independent of raw point count), so
  * for dashboard-hot metrics the whole frame fits on the driver the same
  * way [[TsdbEngine]]'s raw-scan local tier does. Folding a few thousand
  * partial rows takes microseconds; the Spark path pays a ~100 ms+ fixed
  * planning/codegen/scheduling floor per query REGARDLESS of data volume.
  *
  * Two shapes share one row filter ([[Frame]]: `p`'s metric, tag
  * predicates and [startNs, endNs] window range):
  *
  *  - downsamples ([[run]], [[runByTags]]) — a row-for-row mirror of
  *    [[Rollup.run]] + [[QueryEngine.shapeDownsampled]] +
  *    [[QueryEngine.applyCursorLimit]] (spec-asserted identical): same
  *    window math, NaN/empty-set conventions, first/last stream-order
  *    merge, empty-window fill, ordering, cursor keyset and limit.
  *    Percentile (`p<N>`) specs merge t-digest sketches with the same
  *    replace-empty/merge fold as `TDigestMergeQuantileAgg` (the
  *    APPROXIMATE digest contract; singleton-centroid sketches reproduce
  *    the Spark merge bit-for-bit);
  *  - the ANALYZE folds — one driver ([[perSeries]]) groups the kept rows
  *    by series in window order, runs a fold per series, and emits in
  *    UTF-8 series_key order cut to LIMIT. The counter verbs (DELTA,
  *    RESETS, CHANGES, whole-range and BY) are projections of ONE
  *    [[Counter]] state; a whole-range verb is the one-target-per-series
  *    case of its BY form. The engine reaches these folds through the
  *    rollup routing table ([[AnalyzeRoutes]]), whose gate is the same
  *    predicate the Spark rollup route checks.
  *
  * The ANALYZE folds require `rows` sorted by window_start (the resident
  * tier's invariant): each series' windows then arrive in time order, so
  * the first/last non-empty window is the first/last sample and boundary
  * pairs are a single pass. */
object LocalRollup {

  private type Rows = scala.collection.IndexedSeq[Row]

  /** Output schema of [[run]] — matches the Spark downsample path's
    * column order and types (count → long, all else → double). */
  def outputSchema(p: QueryParams): StructType = StructType(
    Seq(StructField("metric", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("series_key", StringType),
      StructField("window_start", LongType),
      StructField("window_end", LongType)) ++
      p.aggs.map(s => StructField(s.outputName,
        if (s.func == "count") LongType else DoubleType)))

  /** Ordinals of the partial frame's columns, and the row filter every
    * fold shares: `p`'s metric, tag predicates and [startNs, endNs]
    * window range. */
  private final class Frame(schema: StructType, p: QueryParams) {
    private val endNs = p.endNs.get
    val ws: Int = schema.fieldIndex("window_start")
    val sk: Int = schema.fieldIndex("series_key")
    val metric: Int = schema.fieldIndex("metric")
    val tags: Int = schema.fieldIndex("tags")
    /** Ordinal of `name`; -1 when the frame does not store it. */
    def apply(name: String): Int = schema.fieldNames.indexOf(name)
    def keeps(r: Row): Boolean = {
      val w = r.getLong(ws)
      w >= p.startNs && w <= endNs && r.getString(metric) == p.metric &&
        tagsMatch(r, tags, p)
    }
  }

  /** Column ordinals of one field's stored partials (`tdigest` = -1
    * when the frame stores no sketches or no percentile spec needs it). */
  private final case class FieldIdx(cntAny: Int, cnt: Int, sum: Int,
      sumsq: Int, mn: Int, mx: Int, firstOrd: Int, first: Int,
      lastOrd: Int, last: Int, tdigest: Int)

  /** Merged partial state for one (series, target window) group. */
  private final class FieldState {
    var cntAny = 0L; var cnt = 0L
    var sum = 0.0; var hasSum = false
    var sumsq = 0.0; var hasSumsq = false
    var mn = Double.MaxValue; var hasMin = false
    var mx = Double.MinValue; var hasMax = false
    var firstOrd: (Long, String, Long) = null; var first = 0.0
    var lastOrd: (Long, String, Long) = null; var last = 0.0
    var digest: graft.functions.TDigest = null
  }
  private final class GroupState(val metric: String, val tags: Any) {
    var cntStar = 0L
    val fields = scala.collection.mutable.HashMap.empty[String, FieldState]
  }

  // string components compare as UTF-8 bytes ([[Utf8Order]]) — the
  // Spark path's ordering for the same first/last and sort semantics
  private val ordOrdering: Ordering[(Long, String, Long)] =
    Ordering.Tuple3(Ordering.Long, Utf8Order, Ordering.Long)

  private def ordOf(r: Row, i: Int): (Long, String, Long) =
    if (r.isNullAt(i)) null
    else { val s = r.getStruct(i); (s.getLong(0), s.getString(1), s.getLong(2)) }

  /** Mirror of [[Rollup.run]] over collected rollup rows. `rows` is the
    * materialized rollup frame for the metric (the full frame or any
    * window-range slice covering [startNs, endNs]); `p` must pass
    * [[Rollup.supports]] against the frame's spec. */
  def run(rows: Array[Row], schema: StructType, p: QueryParams,
      rollupIntervalNs: Long): Array[Row] = {
    val interval = p.downsampleNs.get
    val iSk = schema.fieldIndex("series_key")
    val (aligned, lastW) = windowBounds(p, interval)
    val groups = accumulate(rows, schema, p, interval, lastW,
      r => r.getString(iSk))
    shapeEmitted(groups, g => finalizeGroup(g, p), p, interval, aligned, lastW)
  }

  /** Shared accumulation: filter ([[Frame.keeps]]) and fold partial rows
    * into per-(key, target window) [[GroupState]]s. The key extractor is
    * the only difference between per-series serving ([[run]] —
    * series_key) and tag-grouped serving ([[runByTags]] — the tag-value
    * tuple). */
  private def accumulate(rows: Array[Row], schema: StructType,
      p: QueryParams, interval: Long, lastW: Long, keyOf: Row => AnyRef):
      scala.collection.mutable.HashMap[(AnyRef, Long), GroupState] = {
    val c = new Frame(schema, p)
    val iStar = schema.fieldIndex("__cnt_star")
    val digestFields = p.aggs.filter(_.percentile.isDefined).map(_.field).toSet
    val fieldIdx = p.aggs.map(_.field).distinct.filter(_ != "*").map { f =>
      f -> FieldIdx(schema.fieldIndex(s"${f}__cnt_any"),
        schema.fieldIndex(s"${f}__cnt"), schema.fieldIndex(s"${f}__sum"),
        schema.fieldIndex(s"${f}__sumsq"), schema.fieldIndex(s"${f}__min"),
        schema.fieldIndex(s"${f}__max"), schema.fieldIndex(s"${f}__first_ord"),
        schema.fieldIndex(s"${f}__first"), schema.fieldIndex(s"${f}__last_ord"),
        schema.fieldIndex(s"${f}__last"),
        if (digestFields.contains(f)) schema.fieldIndex(s"${f}__tdigest") else -1)
    }.toMap

    val groups = scala.collection.mutable.HashMap.empty[(AnyRef, Long), GroupState]
    var ri = 0
    while (ri < rows.length) {
      val r = rows(ri); ri += 1
      if (c.keeps(r)) {
        val ws = r.getLong(c.ws)
        val target = ws - java.lang.Math.floorMod(ws, interval)
        if (target <= lastW) {
          val g = groups.getOrElseUpdate((keyOf(r), target),
            new GroupState(r.getString(c.metric), r.get(c.tags)))
          g.cntStar += r.getLong(iStar)
          fieldIdx.foreach { case (f, ix) =>
            val st = g.fields.getOrElseUpdate(f, new FieldState)
            st.cntAny += r.getLong(ix.cntAny)
            st.cnt += r.getLong(ix.cnt)
            if (!r.isNullAt(ix.sum)) { st.sum += r.getDouble(ix.sum); st.hasSum = true }
            if (!r.isNullAt(ix.sumsq)) { st.sumsq += r.getDouble(ix.sumsq); st.hasSumsq = true }
            if (!r.isNullAt(ix.mn)) {
              val v = r.getDouble(ix.mn)
              if (!st.hasMin || v < st.mn) st.mn = v
              st.hasMin = true
            }
            if (!r.isNullAt(ix.mx)) {
              val v = r.getDouble(ix.mx)
              if (!st.hasMax || v > st.mx) st.mx = v
              st.hasMax = true
            }
            val fo = ordOf(r, ix.firstOrd)
            if (fo != null && (st.firstOrd == null || ordOrdering.lt(fo, st.firstOrd))) {
              st.firstOrd = fo; st.first = r.getDouble(ix.first)
            }
            val lo = ordOf(r, ix.lastOrd)
            if (lo != null && (st.lastOrd == null || ordOrdering.gt(lo, st.lastOrd))) {
              st.lastOrd = lo; st.last = r.getDouble(ix.last)
            }
            if (ix.tdigest >= 0 && !r.isNullAt(ix.tdigest)) {
              val in = graft.functions.TDigest.deserialize(
                r.getAs[Array[Byte]](ix.tdigest))
              if (st.digest == null) st.digest = in else st.digest.merge(in)
            }
          }
        }
      }
    }
    groups
  }

  /** reAgg mirror shared by the per-series and tag-grouped paths. */
  private def finalizeGroup(g: GroupState, p: QueryParams): Seq[Any] =
    p.aggs.map { s =>
      val st = if (s.field == "*") null else g.fields(s.field)
      s.func match {
        case "count" if s.field == "*" => g.cntStar
        case "count" => st.cntAny
        case "sum"   => if (st.hasSum) st.sum else 0.0
        case "avg"   => if (st.cnt > 0) st.sum / st.cnt else Double.NaN
        case "min"   => if (st.hasMin) st.mn else Double.NaN
        case "max"   => if (st.hasMax) st.mx else Double.NaN
        case "first" => if (st.firstOrd != null) st.first else Double.NaN
        case "last"  => if (st.lastOrd != null) st.last else Double.NaN
        case "frac" =>
          if (st.cnt < 2) Double.NaN
          else {
            val fst = st.first; val lst = st.last
            if (fst == 0.0 && lst == 0.0) 0.0
            else if (fst == 0.0 && lst > 0.0) Double.PositiveInfinity
            else if (fst == 0.0 && lst < 0.0) Double.NegativeInfinity
            else (lst - fst) / fst
          }
        case "stddev" =>
          if (st.cnt < 2) Double.NaN
          else math.sqrt(math.max(
            (st.sumsq - st.sum * st.sum / st.cnt) / (st.cnt - 1), 0.0))
        case _ if s.percentile.isDefined =>
          if (st.digest == null) Double.NaN
          else st.digest.quantile(s.percentile.get / 100.0)
        case other =>
          throw new IllegalArgumentException(
            s"not decomposable from rollup partials: $other")
      }
    }

  /** Emission + empty-window fill + presentation order + cursor + limit
    * (the per-series serving shapes). */
  private def shapeEmitted(
      groups: scala.collection.mutable.HashMap[(AnyRef, Long), GroupState],
      finalized: GroupState => Seq[Any], p: QueryParams,
      interval: Long, aligned: Long, lastW: Long): Array[Row] = {
    val emitted: Iterator[Row] =
      if (!p.emitsWindows)
        groups.iterator.map { case ((sk, w), g) =>
          Row.fromSeq(Seq(g.metric, g.tags, sk, w, w + interval) ++ finalized(g))
        }
      else {
        // series drawn from the filled groups (shapeDownsampled passes the
        // AGGREGATED frame as seriesSource on the rollup path)
        val series = scala.collection.mutable.LinkedHashMap.empty[AnyRef, (String, Any)]
        groups.foreach { case ((sk, _), g) =>
          if (!series.contains(sk)) series.put(sk, (g.metric, g.tags))
        }
        val windows = (aligned to lastW by interval).toArray
        val n = windows.length
        // fill replaces only aggregates undefined over an empty set —
        // count/sum of an empty window are 0 by definition
        // (shapeDownsampled mirror, same formula and association order)
        val fillable = p.aggs.map(s => s.func != "count" && s.func != "sum").toArray
        val defaults: IndexedSeq[Any] = p.aggs.toIndexedSeq.map(_.func match {
          case "count" => 0L
          case "sum" => 0.0
          case _ => Double.NaN
        })
        series.iterator.flatMap { case (sk, (m, tg)) =>
          val present: Array[Option[IndexedSeq[Any]]] =
            windows.map(w => groups.get((sk, w)).map(g => finalized(g).toIndexedSeq))
          // nearest present slot at-or-before / at-or-after each window
          val prevIdx = new Array[Int](n); val nextIdx = new Array[Int](n)
          var seen = -1
          var i = 0
          while (i < n) { if (present(i).isDefined) seen = i; prevIdx(i) = seen; i += 1 }
          seen = n
          i = n - 1
          while (i >= 0) { if (present(i).isDefined) seen = i; nextIdx(i) = seen; i -= 1 }
          windows.indices.iterator.map { wi =>
            val w = windows(wi)
            val vals: IndexedSeq[Any] = present(wi) match {
              case Some(v) => v
              case None => p.aggs.indices.map { ai =>
                if (!fillable(ai)) defaults(ai)
                else p.fill match {
                  case FillNone => Double.NaN
                  case FillPrevious =>
                    if (prevIdx(wi) >= 0) present(prevIdx(wi)).get(ai) else Double.NaN
                  case FillLinear =>
                    if (prevIdx(wi) >= 0 && nextIdx(wi) < n) {
                      val pv = present(prevIdx(wi)).get(ai).asInstanceOf[Double]
                      val nv = present(nextIdx(wi)).get(ai).asInstanceOf[Double]
                      val pw = windows(prevIdx(wi)); val nw = windows(nextIdx(wi))
                      pv + (nv - pv) * ((w - pw).toDouble / (nw - pw).toDouble)
                    } else Double.NaN
                }
              }
            }
            Row.fromSeq(Seq(m, tg, sk, w, w + interval) ++ vals)
          }
        }
      }

    // presentation order, cursor keyset, limit (applyCursorLimit mirror)
    var out = emitted.toArray
    val ord = Ordering.Tuple2(Ordering.Long, Utf8Order)
      .on[Row](r => (r.getLong(3), r.getString(2)))
    out = out.sorted(if (p.order == Descending) ord.reverse else ord)
    p.afterKey.foreach { c =>
      out = out.filter { r =>
        val w = r.getLong(3); val sk = r.getString(2)
        val skc = Utf8Order.compare(sk, c.seriesKey)
        if (p.order == Ascending)
          w > c.timestamp || (w == c.timestamp && skc > 0)
        else w < c.timestamp || (w == c.timestamp && skc < 0)
      }
    }
    p.limit.foreach(n => out = out.take(n.toInt))
    out
  }

  /** Output schema of [[runByTags]] — matches [[Rollup.runByTags]]. */
  def outputSchemaByTags(p: QueryParams, tagKeys: Seq[String]): StructType =
    StructType(
      (StructField("metric", StringType) +:
        tagKeys.map(k => StructField(s"tag_$k", StringType))) ++
      Seq(StructField("window_start", LongType),
        StructField("window_end", LongType)) ++
      p.aggs.map(s => StructField(s.outputName,
        if (s.func == "count") LongType else DoubleType)))

  /** Driver-resident mirror of [[Rollup.runByTags]]: tag-grouped
    * downsample re-aggregated from collected partials in pure Scala —
    * same group key (tag-value tuple × target window), same reAgg
    * semantics via the shared [[accumulate]]/finalize fold, same
    * (window ±, tag values asc nulls-first) presentation order and
    * LIMIT. The per-series fill/cursor shapes don't exist on this path
    * (rejected upstream). */
  def runByTags(rows: Array[Row], schema: StructType, p: QueryParams,
      rollupIntervalNs: Long, tagKeys: Seq[String]): Array[Row] = {
    require(p.fill == FillNone && !p.emitEmptyWindows && p.afterKey.isEmpty,
      "per-series shapes don't apply to GROUP BY TAGS")
    val interval = p.downsampleNs.get
    val iTags = schema.fieldIndex("tags")
    val (_, lastW) = windowBounds(p, interval)
    def tagTuple(r: Row): AnyRef = {
      val tg =
        if (r.isNullAt(iTags)) null
        else r.getAs[scala.collection.Map[String, String]](iTags)
      tagKeys.map(k => if (tg == null) null else tg.get(k).orNull).toVector
    }
    val groups = accumulate(rows, schema, p, interval, lastW, tagTuple)

    val out = groups.iterator.map { case ((key, w), g) =>
      val tags = key.asInstanceOf[Vector[String]]
      Row.fromSeq((p.metric +: tags) ++ Seq(w, w + interval) ++
        finalizeGroup(g, p))
    }.toArray

    // window (query order) then tag values asc, nulls first, UTF-8 bytes
    // — the Spark path's orderBy on the same columns
    val nullFirst: Ordering[String] = (a: String, b: String) =>
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else Utf8Order.compare(a, b)
    val rowOrd: Ordering[Row] = (x: Row, y: Row) => {
      val wc = java.lang.Long.compare(x.getLong(1 + tagKeys.length),
        y.getLong(1 + tagKeys.length))
      val wd = if (p.order == Descending) -wc else wc
      if (wd != 0) wd
      else {
        var i = 0; var c = 0
        while (i < tagKeys.length && c == 0) {
          c = nullFirst.compare(x.getString(1 + i), y.getString(1 + i)); i += 1
        }
        c
      }
    }
    val sorted = out.sorted(rowOrd)
    p.limit.fold(sorted)(n => sorted.take(n.toInt))
  }

  /** The driver of every ANALYZE fold: keep `p`'s rows, group them by
    * series (window order kept), run `fold` per series in UTF-8
    * series_key order, and cut to LIMIT (the Spark path's df.limit).
    * `fold` gets the series' output prefix (metric, tags, series_key). */
  private def perSeries(rows: Array[Row], schema: StructType, p: QueryParams)(
      fold: (Frame, Seq[Any], Rows) => Iterator[Row]): Array[Row] = {
    val c = new Frame(schema, p)
    val bySeries = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Row]]
    rows.foreach { r =>
      if (c.keeps(r)) bySeries.getOrElseUpdate(r.getString(c.sk),
        scala.collection.mutable.ArrayBuffer.empty[Row]) += r
    }
    val out = bySeries.keys.toArray.sorted(Utf8Order).iterator.flatMap { sk =>
      val series = bySeries(sk)
      fold(c, Seq(series.head.get(c.metric), series.head.get(c.tags), sk), series)
    }
    p.limit.fold(out)(n => out.take(n.toInt)).toArray
  }

  /** One series' rows grouped by target window, in window order
    * (`windowNs` = 0: the whole range is one group, keyed 0). */
  private def targets(c: Frame, series: Rows,
      windowNs: Long): Seq[(Long, Rows)] =
    if (windowNs == 0L) Seq(0L -> series)
    else series.groupBy { r =>
      val ws = r.getLong(c.ws); ws - java.lang.Math.floorMod(ws, windowNs)
    }.toSeq.sortBy(_._1)

  private def tsOf(r: Row, i: Int): Long = r.getStruct(i).getLong(0)
  private def dbl(r: Row, i: Int): Double =
    if (i < 0 || r.isNullAt(i)) 0.0 else r.getDouble(i)
  private def lng(r: Row, i: Int): Long =
    if (i < 0 || r.isNullAt(i)) 0L else r.getLong(i)

  /** The one counter state behind DELTA, RESETS and CHANGES (whole-range
    * and BY): sample count, first/last sample, reset-aware increase,
    * resets and changes over one target window. */
  private final class Counter {
    var n = 0L; var seen = false
    var firstTs = 0L; var firstVal = 0.0; var lastTs = 0L; var lastVal = 0.0
    var inc = 0.0; var resets = 0L; var changes = 0L
    def delta: Double = lastVal - firstVal
  }

  /** Fold each series into one [[Counter]] per target window. A pair of
    * consecutive samples inside one rollup window is counted by the
    * stored `__inc`/`__resets`/`__changes` partials; a pair spanning two
    * non-empty windows (previous window's last → this window's first) is
    * counted here, in the LATER sample's target (the continuous-counter
    * contract). Target windows with no numeric sample emit nothing. */
  private def counters(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String, windowNs: Long)(
      emit: (Long, Counter) => Seq[Any]): Array[Row] =
    perSeries(rows, schema, p) { (c, key, series) =>
      val iCnt = c(s"${field}__cnt"); val iFo = c(s"${field}__first_ord")
      val iFv = c(s"${field}__first"); val iLo = c(s"${field}__last_ord")
      val iLv = c(s"${field}__last"); val iInc = c(s"${field}__inc")
      val iRst = c(s"${field}__resets"); val iChg = c(s"${field}__changes")
      var hasPrev = false; var prev = 0.0
      targets(c, series, windowNs).iterator.flatMap { case (w, run) =>
        val st = new Counter
        run.foreach { r =>
          st.n += r.getLong(iCnt)
          if (!r.isNullAt(iFo)) { // window has numeric samples
            val fv = r.getDouble(iFv)
            if (!st.seen) { st.seen = true; st.firstTs = tsOf(r, iFo); st.firstVal = fv }
            if (hasPrev) { // boundary pair
              st.inc += (if (fv < prev) fv else fv - prev)
              if (fv < prev) st.resets += 1L
              if (fv != prev) st.changes += 1L
            }
            st.resets += lng(r, iRst); st.changes += lng(r, iChg)
            st.lastTs = tsOf(r, iLo); st.lastVal = r.getDouble(iLv)
            prev = st.lastVal; hasPrev = true
          }
          st.inc += dbl(r, iInc)
        }
        if (st.n > 0) Iterator.single(Row.fromSeq(key ++ emit(w, st)))
        else Iterator.empty
      }
    }

  /** Driver-resident mirror of [[Rollup.runDelta]]: whole-range
    * delta/increase, the [[counters]] fold with one target per series. */
  def runDelta(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String): Array[Row] =
    counters(rows, schema, p, field, 0L) { (_, st) =>
      Seq[Any](st.n, st.firstTs, st.lastTs, st.delta, st.inc)
    }

  /** Driver-resident mirror of [[Rollup.runDeltaBy]]: the [[counters]]
    * fold per target window. `windowNs` must be a multiple of the rollup
    * grain (caller-gated). */
  def runDeltaBy(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String, windowNs: Long): Array[Row] =
    counters(rows, schema, p, field, windowNs) { (w, st) =>
      Seq[Any](w, st.n, st.delta, st.inc)
    }

  /** Driver-resident mirror of [[Rollup.runTransitions]] projected to the
    * verb's column (`keep` = "resets" | "changes"). Long counts:
    * BIT-identical to both the Spark rollup route and the raw analytic. */
  def runTransitions(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String, keep: String): Array[Row] =
    counters(rows, schema, p, field, 0L) { (_, st) =>
      Seq[Any](st.n, if (keep == "resets") st.resets else st.changes)
    }

  /** Driver-resident mirror of [[Rollup.runTransitionsBy]] projected to
    * the verb's column. */
  def runTransitionsBy(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String, windowNs: Long, keep: String): Array[Row] =
    counters(rows, schema, p, field, windowNs) { (w, st) =>
      Seq[Any](w, st.n, if (keep == "resets") st.resets else st.changes)
    }

  /** Driver-resident mirror of [[Rollup.runPredict]]: least-squares
    * trend + horizon forecast from the summed moment partials (same
    * anchor-shift algebra). */
  def runPredict(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String, horizonNs: Long): Array[Row] = {
    val s = p.startNs.toDouble / 1e9
    perSeries(rows, schema, p) { (c, key, series) =>
      val iCnt = c(s"${field}__cnt"); val iLo = c(s"${field}__last_ord")
      val iSv = c(s"${field}__sum"); val iSt = c(s"${field}__tsum")
      val iStv = c(s"${field}__tvsum"); val iStt = c(s"${field}__ttsum")
      var cnt = 0L; var lastTs = 0L
      var st = 0.0; var sv = 0.0; var stv = 0.0; var stt = 0.0
      series.foreach { r =>
        cnt += r.getLong(iCnt)
        if (!r.isNullAt(iLo)) lastTs = tsOf(r, iLo)
        st += dbl(r, iSt); sv += dbl(r, iSv); stv += dbl(r, iStv); stt += dbl(r, iStt)
      }
      if (cnt == 0) Iterator.empty
      else {
        val n = cnt.toDouble
        val mt = (st - s * n) / n
        val mv = sv / n
        val mtv = (stv - s * sv) / n
        val mtt = (stt - 2.0 * s * st + s * s * n) / n
        val varT = mtt - mt * mt
        Iterator.single(Row.fromSeq(key ++ (
          if (cnt >= 2 && varT > 0) {
            val slope = (mtv - mt * mv) / varT
            val targetT = (lastTs - p.startNs + horizonNs).toDouble / 1e9
            Seq[Any](cnt, lastTs, slope, mv + slope * (targetT - mt))
          } else Seq[Any](cnt, lastTs, null, null))))
      }
    }
  }

  /** Driver-resident EWMA/HOLT … BY ([[Rollup.runSmoothBy]]'s output
    * shape). The stored fold state of a target window's LAST non-empty
    * rollup window IS the raw analytic's value at that sample
    * ([[SmoothSpec]] contract), so the fold only picks states. The CALLER
    * must have verified the range-start condition (no matched non-empty
    * window before startNs) — the prefix sits outside this slice. */
  def runSmoothBy(rows: Array[Row], schema: StructType, p: QueryParams,
      s: SmoothSpec, windowNs: Long): Array[Row] =
    perSeries(rows, schema, p) { (c, key, series) =>
      val iCnt = c(s"${s.field}__cnt"); val iLo = c(s"${s.field}__last_ord")
      val iLv = c(s"${s.field}__last"); val iSt = c(Rollup.smoothStateCol(s))
      targets(c, series.filter(_.getLong(iCnt) > 0), windowNs).iterator.map {
        case (w, run) =>
          val r = run.last
          val base = key ++ Seq[Any](w, run.map(_.getLong(iCnt)).sum, tsOf(r, iLo),
            r.getDouble(iLv))
          Row.fromSeq(base ++ (
            if (s.kind == "ewma") Seq[Any](r.getDouble(iSt))
            else {
              val h = r.getStruct(iSt)
              Seq[Any](h.getDouble(0), h.getDouble(1), h.getDouble(0) + h.getDouble(1))
            }))
      }
    }

  /** Driver-resident mirror of [[Rollup.runTwa]]: LOCF time-weighted
    * averages — each non-empty rollup window's in-window `__area`
    * integral plus its last sample's carry to min(next non-empty window's
    * first sample, target end). `p.downsampleNs` (a multiple of the
    * grain) is the target interval. */
  def runTwa(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String): Array[Row] = {
    val interval = p.downsampleNs.get
    perSeries(rows, schema, p) { (c, key, series) =>
      val iCnt = c(s"${field}__cnt"); val iFo = c(s"${field}__first_ord")
      val iLo = c(s"${field}__last_ord"); val iLv = c(s"${field}__last")
      val iArea = c(s"${field}__area")
      val live = series.filter(_.getLong(iCnt) > 0)
      val nextFirst = live.iterator.drop(1).map(tsOf(_, iFo)) ++ Iterator(Long.MaxValue)
      // (target, Σ v·dt, Σ dt, n) per rollup window
      val parts = live.iterator.zip(nextFirst).map { case (r, next) =>
        val ws = r.getLong(c.ws)
        val target = ws - java.lang.Math.floorMod(ws, interval)
        val closeTs = math.min(next, target + interval)
        (target, dbl(r, iArea) + r.getDouble(iLv) * (closeTs - tsOf(r, iLo)).toDouble,
          (closeTs - tsOf(r, iFo)).toDouble, r.getLong(iCnt))
      }.toSeq
      parts.groupBy(_._1).toSeq.sortBy(_._1).iterator.map { case (w, ps) =>
        Row.fromSeq(key ++
          Seq[Any](w, ps.map(_._2).sum / ps.map(_._3).sum, ps.map(_._4).sum))
      }
    }
  }

  /** Driver-resident IRATE ([[TsAnalytics.irate]]'s output shape). Each
    * series' trailing sample PAIR is recoverable exactly from partials:
    * a window with ≥ 2 numeric samples carries both its last
    * (`__last_ord`/`__last`) and second-to-last (`__plast_ord`/
    * `__plast`); a 1-sample window pairs with the previous non-empty
    * window's last. Series with < 2 numeric samples emit no row; counter
    * resets clamp to the new value (the engine's default irate
    * contract). */
  def runIrate(rows: Array[Row], schema: StructType, p: QueryParams,
      field: String): Array[Row] =
    perSeries(rows, schema, p) { (c, key, series) =>
      val iLo = c(s"${field}__last_ord"); val iLv = c(s"${field}__last")
      val iPo = c(s"${field}__plast_ord"); val iPv = c(s"${field}__plast")
      // latest and second-latest numeric sample (ts, value) in range
      var t1 = 0L; var v1 = 0.0; var has1 = false
      var t2 = 0L; var v2 = 0.0; var has2 = false
      series.foreach { r =>
        if (!r.isNullAt(iLo)) { // window has ≥1 numeric sample
          if (!r.isNullAt(iPo)) { // ≥2 samples: pair is internal to the window
            t2 = tsOf(r, iPo); v2 = r.getDouble(iPv); has2 = true
          } else { // 1 sample: pairs with the previous window's last
            t2 = t1; v2 = v1; has2 = has1
          }
          t1 = tsOf(r, iLo); v1 = r.getDouble(iLv); has1 = true
        }
      }
      if (!has2) Iterator.empty
      else {
        val delta = if (v1 < v2) v1 else v1 - v2
        val dtNs = t1 - t2
        // zero-dt guard mirroring the raw operator (TsAnalytics.irate
        // wraps the divisor in when(dt =!= 0L, ...) → null rate)
        val rate: java.lang.Double =
          if (dtNs == 0L) null else delta * 1e9 / dtNs.toDouble
        Iterator.single(Row.fromSeq(key ++ Seq[Any](t1, v1, delta, rate)))
      }
    }

  /** (aligned start, last target window) of a downsample at `interval`
    * (aligned may precede startNs when interval > the rollup's). */
  private def windowBounds(p: QueryParams, interval: Long): (Long, Long) = {
    val endNs = p.endNs.get
    val aligned = p.startNs - java.lang.Math.floorMod(p.startNs, interval)
    (aligned, if (endNs <= aligned) aligned
      else aligned + ((endNs - 1 - aligned) / interval) * interval)
  }

  private[tsdb] def tagsMatch(r: Row, iTags: Int, p: QueryParams): Boolean =
    p.tags.isEmpty || {
      val tg = r.getAs[scala.collection.Map[String, String]](iTags)
      p.tags.forall { case (k, v) =>
        tg != null && TagMatch.matches(v, tg.get(k).orNull) }
    }
}
