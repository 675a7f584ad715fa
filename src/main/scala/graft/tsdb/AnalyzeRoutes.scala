package graft.tsdb

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** One rollup-served ANALYZE verb bound to its query: everything
  * [[TsdbEngine]]'s two rollup tiers need to serve it, written once.
  *
  *  - `covers` + [[gate]]: the registration must cover the field (or
  *    carry the exact [[SmoothSpec]]), and [[Rollup.supportsAnalytic]]
  *    must pass over the partial columns the verb reads (`needs`) and
  *    its target window. The Spark route checks the gate against the
  *    persisted frame's columns, the driver tier against the resident
  *    frame's — the same predicate;
  *  - `spark`: the declarative [[Rollup]] plan over the partial frame and
  *    its grain (None when only the driver tier folds partials), with
  *    `raw` the [[TsAnalytics]] plan it replaces; `project` shapes either
  *    to the verb's columns;
  *  - `local`: the [[LocalRollup]] fold over resident partial rows,
  *    emitting `schema` (the Spark output's columns and types);
  *  - `sparkPath` / `localPath`: the `lastServePath` each tier reports.
  *
  * A recurrence (`smooth` defined) folds from each series' first sample,
  * so both tiers also require that no matched non-empty window precedes
  * startNs (each checks it its own way). */
private[graft] final case class AnalyzeRoute(
    p: QueryParams,
    field: String,
    needs: Seq[String],
    windowNs: Option[Long],
    sparkPath: String,
    spark: Option[(DataFrame, Long) => DataFrame],
    raw: (DataFrame, Seq[Tombstone], Option[Long]) => DataFrame,
    localPath: String,
    local: (Array[Row], StructType) => Array[Row],
    schema: StructType,
    project: DataFrame => DataFrame = identity,
    smooth: Option[SmoothSpec] = None) {

  def covers(reg: TsdbEngine.RollupReg): Boolean =
    smooth.fold(reg.fields.contains(field))(reg.smooth.contains)

  /** True when a rollup of grain `grain` whose frame stores the columns
    * `has` accepts can serve this verb; `_ => true` checks the query
    * shape alone, before any frame is built. */
  def gate(grain: Long, has: String => Boolean): Boolean =
    Rollup.supportsAnalytic(p, grain, has, needs, windowNs)
}

/** The rollup routing table: [[of]] maps an [[AnalyzeSpec]] to its
  * [[AnalyzeRoute]], None for verbs no rollup serves. */
private[graft] object AnalyzeRoutes {

  private def schemaOf(cols: (String, DataType)*): StructType = StructType(
    Seq(StructField("metric", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("series_key", StringType)) ++
      cols.map { case (n, t) => StructField(n, t) })

  private def keep(cols: String*): DataFrame => DataFrame =
    _.select(cols.map(col): _*)

  /** The windowed smoothing verb that `s` answers at `windowNs`. */
  def smoothBy(s: SmoothSpec, windowNs: Long): AnalyzeSpec =
    if (s.kind == "ewma") AnalyzeEwmaBy(s.field, s.alpha, windowNs)
    else AnalyzeHoltBy(s.field, s.alpha, s.beta, windowNs)

  def of(p: QueryParams, spec: AnalyzeSpec): Option[AnalyzeRoute] = spec match {
    case AnalyzeDelta(f) => Some(AnalyzeRoute(p, f, Seq(s"${f}__inc"), None,
      "rollup-delta", Some((v, g) => Rollup.runDelta(v, g, p, f)),
      (pts, tombs, split) => TsAnalytics.rangeDelta(pts, p, field = f,
        tombstones = tombs, splitNs = split),
      "local-rollup-delta", (rows, sch) => LocalRollup.runDelta(rows, sch, p, f),
      schemaOf("n_points" -> LongType, "first_ts" -> LongType,
        "last_ts" -> LongType, "delta" -> DoubleType, "increase" -> DoubleType)))
    case AnalyzeDeltaBy(f, w) => Some(deltaBy(p, f, w))
    case AnalyzeRateBy(f, w) =>
      // the windowed increase over the window duration: the DELTA BY
      // route with one projection on top
      def rate(increase: Double): Double = increase * 1e9 / w.toDouble
      Some(deltaBy(p, f, w).copy(localPath = "local-rollup-rate-by",
        local = (rows, sch) => LocalRollup.runDeltaBy(rows, sch, p, f, w)
          .map(r => Row(r(0), r(1), r(2), r(3), r(4), rate(r.getDouble(6)))),
        schema = schemaOf("window_start" -> LongType, "n_points" -> LongType,
          "rate_per_sec" -> DoubleType),
        project = _.select(col("metric"), col("tags"), col("series_key"),
          col("window_start"), col("n_points"),
          (col("increase") * lit(1e9) / lit(w.toDouble)).as("rate_per_sec"))))
    case AnalyzeIrate(f) => Some(AnalyzeRoute(p, f, Seq(s"${f}__plast"), None,
      "", None,
      (pts, tombs, split) => TsAnalytics.irate(pts, p, field = f,
        tombstones = tombs, splitNs = split),
      "local-rollup-irate", (rows, sch) => LocalRollup.runIrate(rows, sch, p, f),
      schemaOf("timestamp" -> LongType, "value" -> DoubleType,
        "delta" -> DoubleType, "rate_per_sec" -> DoubleType)))
    case AnalyzeResets(f) => Some(transitions(p, f, None, "resets"))
    case AnalyzeChanges(f) => Some(transitions(p, f, None, "changes"))
    case AnalyzeResetsBy(f, w) => Some(transitions(p, f, Some(w), "resets"))
    case AnalyzeChangesBy(f, w) => Some(transitions(p, f, Some(w), "changes"))
    case AnalyzePredict(f, h) => Some(predict(p, f, h))
    case AnalyzeDeriv(f) =>
      // PromQL deriv(): the PREDICT trend fit without the forecast (the
      // moments don't depend on the horizon)
      Some(predict(p, f, 0L).copy(localPath = "local-rollup-deriv",
        local = (rows, sch) => LocalRollup.runPredict(rows, sch, p, f, 0L)
          .map(r => Row(r(0), r(1), r(2), r(3), r(4), r(5))),
        schema = schemaOf("n_points" -> LongType, "last_ts" -> LongType,
          "slope_per_sec" -> DoubleType),
        project = keep("metric", "tags", "series_key", "n_points", "last_ts",
          "slope_per_sec")))
    case AnalyzeTwa(f, iv) =>
      val pTwa = p.copy(downsampleNs = Some(iv))
      Some(AnalyzeRoute(pTwa, f, Seq(s"${f}__inc", s"${f}__area"), Some(iv),
        "rollup-twa", Some((v, g) => Rollup.runTwa(v, g, pTwa, f)),
        (pts, tombs, split) => TsAnalytics.timeWeightedAvg(pts, pTwa, field = f,
          tombstones = tombs, splitNs = split),
        "local-rollup-twa", (rows, sch) => LocalRollup.runTwa(rows, sch, pTwa, f),
        schemaOf("window_start" -> LongType, "twa" -> DoubleType,
          "n_points" -> LongType)))
    case AnalyzeEwmaBy(f, a, w) => Some(smoothed(p, SmoothSpec(f, "ewma", a), w))
    case AnalyzeHoltBy(f, a, b, w) => Some(smoothed(p, SmoothSpec(f, "holt", a, b), w))
    case _ => None
  }

  private def deltaBy(p: QueryParams, f: String, w: Long) =
    AnalyzeRoute(p, f, Seq(s"${f}__inc"), Some(w),
      "rollup-delta-by", Some((v, g) => Rollup.runDeltaBy(v, g, p, f, w)),
      (pts, tombs, split) => TsAnalytics.windowedDelta(pts, p, w, field = f,
        tombstones = tombs, splitNs = split),
      "local-rollup-delta-by",
      (rows, sch) => LocalRollup.runDeltaBy(rows, sch, p, f, w),
      schemaOf("window_start" -> LongType, "n_points" -> LongType,
        "delta" -> DoubleType, "increase" -> DoubleType))

  /** RESETS/CHANGES, whole-range (`w` None) or BY: exact long counts
    * projected to the verb's column. */
  private def transitions(p: QueryParams, f: String, w: Option[Long],
      verb: String) = {
    val byCols = w.map(_ => "window_start").toSeq
    AnalyzeRoute(p, f, Seq(s"${f}__resets", s"${f}__changes"), w,
      if (w.isEmpty) "rollup-transitions" else "rollup-transitions-by",
      Some((v, g) => w.fold(Rollup.runTransitions(v, g, p, f))(
        Rollup.runTransitionsBy(v, g, p, f, _))),
      (pts, tombs, split) => w.fold(TsAnalytics.transitions(pts, p, field = f,
        tombstones = tombs, splitNs = split))(TsAnalytics.windowedTransitions(
        pts, p, _, field = f, tombstones = tombs, splitNs = split)),
      s"local-rollup-$verb" + w.fold("")(_ => "-by"),
      (rows, sch) => w.fold(LocalRollup.runTransitions(rows, sch, p, f, verb))(
        LocalRollup.runTransitionsBy(rows, sch, p, f, _, verb)),
      schemaOf(byCols.map(_ -> LongType) ++
        Seq("n_points" -> LongType, verb -> LongType): _*),
      keep(Seq("metric", "tags", "series_key") ++ byCols ++
        Seq("n_points", verb): _*))
  }

  private def predict(p: QueryParams, f: String, h: Long) =
    AnalyzeRoute(p, f, Seq(s"${f}__inc", s"${f}__tsum"), None,
      "rollup-predict", Some((v, g) => Rollup.runPredict(v, g, p, f, h)),
      (pts, tombs, split) => TsAnalytics.predictLinear(pts, p, h, field = f,
        tombstones = tombs, splitNs = split),
      "local-rollup-predict",
      (rows, sch) => LocalRollup.runPredict(rows, sch, p, f, h),
      schemaOf("n_points" -> LongType, "last_ts" -> LongType,
        "slope_per_sec" -> DoubleType, "predicted" -> DoubleType))

  /** EWMA/HOLT … BY: served from the registration's stored fold states
    * only for the EXACT same [[SmoothSpec]] (a different α is a
    * different fold) — BIT-identical to the raw windowed fold. */
  private def smoothed(p: QueryParams, s: SmoothSpec, w: Long) =
    AnalyzeRoute(p, s.field, Seq(Rollup.smoothStateCol(s), s"${s.field}__cnt"),
      Some(w), s"rollup-${s.kind}",
      Some((v, g) => Rollup.runSmoothBy(v, g, p, s, w)),
      (pts, tombs, split) =>
        if (s.kind == "ewma") TsAnalytics.ewmaSmoothBy(pts, p, s.alpha, w,
          field = s.field, tombstones = tombs, splitNs = split)
        else TsAnalytics.holtSmoothBy(pts, p, s.alpha, s.beta, w,
          field = s.field, tombstones = tombs, splitNs = split),
      s"local-rollup-${s.kind}",
      (rows, sch) => LocalRollup.runSmoothBy(rows, sch, p, s, w),
      schemaOf(Seq("window_start" -> LongType, "n_points" -> LongType,
        "last_ts" -> LongType, "value" -> DoubleType) ++ (
        if (s.kind == "ewma") Seq("ewma" -> DoubleType)
        else Seq("level" -> DoubleType, "trend" -> DoubleType,
          "forecast" -> DoubleType)): _*),
      smooth = Some(s))
}
