package graft

import graft.model.{DataPoint, FieldValue}
import graft.tsdb._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The Spark-bound single-metric reads — every ANALYZE verb, CORRELATE /
  * RATIO, GROUP BY TAGS and `SHOW CARDINALITY FROM m [BY w]` — run over
  * the metric's persisted merged serving view, not a parquet scan of the
  * store. On one store with overwrites and point, range and series
  * tombstones each answer equals the [[TsAnalytics]] reference over raw
  * points + tombstones (exact for longs, strings and maps, 1e-9 relative
  * for doubles), and its executed plan reads no file. */
class ServingViewReadsSpec extends SparkSpec {

  private val Sec = 1000000000L
  private val Grain = 10 * Sec
  private val Alpha = 0.25
  private val P = QueryParams("m", startNs = 0L, endNs = Some(90 * Sec - 1))

  private object Plans extends AdaptiveSparkPlanHelper
  private def fileScans(df: DataFrame) =
    Plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  /** Metric `m`: four series (tags host, dc) over 90 s at 1 s in parquet
    * files, an inline overwrite batch, a deleted range, a deleted point,
    * the newest point of host a deleted and the series of host d deleted.
    * Metric `n` pairs with `m` by host for CORRELATE/RATIO; `web.a` and
    * `web.b` are a prefix family. */
  private def seededEngine(): TsdbEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft_servreads").toString
    val eng = new TsdbEngine(spark, dir)
    val rnd = new scala.util.Random(11)
    def pt(m: String, h: String, s: Long, v: Double) = DataPoint(m,
      Map("host" -> h, "dc" -> (if (h < "c") "east" else "west")), s * Sec,
      Map("v" -> FieldValue.ofDouble(v)))
    val base = for {
      m <- Seq("m", "n", "web.a", "web.b")
      (h, k) <- Seq("a", "b", "c", "d").zipWithIndex
      s <- 0L until 90L
      if rnd.nextInt(5) != 0
    } yield pt(m, h, s, ((s * (k + 2)) % 23 + (if (s % 9 < 3) 0 else k)).toDouble +
      (if (m == "n") rnd.nextInt(4) else 0))
    eng.inlineMaxRows = 0 // the base lands in parquet files
    assert(eng.putBatch(base).isRight)
    eng.inlineMaxRows = 5000
    assert(eng.putBatch(base.filter(_.timestamp % (7 * Sec) == 0).map(p =>
      p.copy(fields = Map("v" -> FieldValue.ofDouble(rnd.nextInt(30).toDouble)))))
      .isRight)
    val tags = (h: String) => base.find(p => p.tags("host") == h).get.tags
    val newestA = base.filter(p => p.metric == "m" && p.tags("host") == "a")
      .map(_.timestamp).max
    for (m <- Seq("m", "web.a")) {
      assert(eng.deleteRange(m, tags("a"), 20 * Sec, 25 * Sec).isRight)
      assert(eng.deletePoint(m, tags("b"), 33 * Sec).isRight)
      assert(eng.deletePoint(m, tags("a"), newestA).isRight)
      assert(eng.deleteSeries(m, tags("d")).isRight)
    }
    eng
  }

  private def same(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) =>
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
    case _ => x == y
  }

  /** `got` equals `want` as row sets: rows keyed by their non-double
    * columns (unique in every shape here), doubles within 1e-9. */
  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), s"$what schema")
    def key(v: Any): String = v match {
      case m: scala.collection.Map[_, _] => m.toSeq.map(_.toString).sorted.mkString(",")
      case _ => String.valueOf(v)
    }
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
      .sortBy(_.filterNot(_.isInstanceOf[Double]).map(key).mkString("|"))
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty, s"$what: empty reference")
    assert(g.length == w.length, s"$what: ${g.length} rows vs ${w.length}")
    w.zip(g).foreach { case (a, b) =>
      assert(a.zip(b).forall { case (x, y) => same(x, y) }, s"$what: $b vs reference $a")
    }
  }

  private val topBy = AggSpec("sum", "v")

  /** Every [[AnalyzeSpec]] verb, the cross-metric and TOPK ones bound to
    * meaningful arguments. */
  private def verbs: Seq[(QueryParams, AnalyzeSpec)] =
    AnalyzeRoutesSpec.everySpec(Grain, Alpha).map {
      case _: AnalyzeCorrelate => P -> AnalyzeCorrelate("v", "n", "host", Grain, 3)
      case _: AnalyzeRatio => P -> AnalyzeRatio("v", "n", "host", Grain)
      case _: AnalyzeTopK =>
        P.copy(aggs = Seq(topBy)) -> AnalyzeTopK(2, topBy.outputName, Seq("host"))
      case s => P -> s
    }

  /** The analytic [[TsdbEngine.analyze]] runs for `spec`, over raw points
    * and tombstones. */
  private def reference(pts: DataFrame, tombs: Seq[Tombstone], p: QueryParams,
      spec: AnalyzeSpec): DataFrame = spec match {
    case AnalyzeRate(f) => TsAnalytics.rate(pts, p, field = f, tombstones = tombs)
    case AnalyzeEwma(f, a) =>
      TsAnalytics.ewmaSmooth(pts, p, a, field = f, tombstones = tombs)
    case AnalyzeHolt(f, a, b) =>
      TsAnalytics.holtSmooth(pts, p, a, b, field = f, tombstones = tombs)
    case AnalyzeCumsum(f) =>
      TsAnalytics.runningAggregates(pts, p, field = f, tombstones = tombs)
    case AnalyzeZScore(f, lb, th) =>
      TsAnalytics.rollingZScore(pts, p, field = f, lookback = lb,
        minPoints = math.min(5, lb), threshold = th, tombstones = tombs)
    case AnalyzeCorrelate(f, b, key, iv, mb) =>
      TsAnalytics.correlate(pts, p.metric, b, key, iv, p.startNs, p.endNs.get,
        field = f, minBuckets = mb, tombstones = tombs)
    case AnalyzeRatio(f, b, key, iv) =>
      TsAnalytics.ratio(pts, p.metric, b, key, iv, p.startNs, p.endNs.get,
        field = f, tombstones = tombs)
    case AnalyzeTopK(k, by, keys, asc) =>
      TsAnalytics.topKGroups(pts, p, keys, k, by, tombstones = tombs, ascending = asc)
    case _ =>
      val rt = AnalyzeRoutes.of(p, spec).get
      rt.project(rt.raw(pts, tombs, None))
  }

  test("Spark-bound single-metric reads run over the serving view == raw reference, no file scan") {
    val eng = seededEngine()
    val pts = eng.loadPoints().get
    val tombs = eng.loadTombstones()
    assert(tombs.size == 8)
    def check(what: String, got: DataFrame, want: DataFrame,
        fromView: Boolean = true): Unit = {
      assertSame(what, got, want)
      if (fromView) assert(fileScans(got).isEmpty,
        s"$what scans files:\n${got.queryExecution.executedPlan}")
    }
    // the walker sees a file scan where there is one
    val raw = reference(pts, tombs, P, AnalyzeRate("v"))
    raw.collect()
    assert(fileScans(raw).nonEmpty, raw.queryExecution.executedPlan.toString)

    val vs = verbs
    assert(vs.size >= 21, vs.map(_._2).mkString(", "))
    for ((p, spec) <- vs) {
      check(spec.toString, eng.analyze(p, spec), reference(pts, tombs, p, spec))
      assert(eng.lastServePath == "analyze-raw" || AnalyzeRoutes.of(p, spec).isEmpty,
        s"$spec: ${eng.lastServePath}")
    }
    // RELATIVE resolves against visible rows: host a's newest point is deleted
    val rel = P.copy(tags = Map("host" -> "a"), endNs = None,
      relativeNs = Some(20 * Sec), nowNs = Some(1000 * Sec))
    check("RELATIVE rate", eng.analyze(rel, AnalyzeRate("v")),
      TsAnalytics.rate(pts, rel, field = "v", tombstones = tombs))
    check("RELATIVE delta", eng.analyze(rel, AnalyzeDelta("v")),
      TsAnalytics.rangeDelta(pts, rel, field = "v", tombstones = tombs))

    for (ds <- Seq(None, Some(Grain))) {
      val g = P.copy(aggs = Seq(AggSpec("sum", "v"), AggSpec("count", "*"),
        AggSpec("max", "v")), downsampleNs = ds)
      check(s"GROUP BY TAGS (dc) at $ds", eng.queryByTags(g, Seq("dc")),
        TsAnalytics.aggregateByTags(pts, g, Seq("dc"), tombs))
    }

    val mPts = pts.filter(TagMatch.metricPred("m"))
    check("SHOW CARDINALITY FROM m BY 20s", eng.showCardinality(Some("m"), Some(2 * Grain)),
      TsAnalytics.seriesCardinality(mPts, 2 * Grain, 0L, Long.MaxValue, tombs))
    // whole range = one window starting at 0 (every timestamp is >= 0)
    check("SHOW CARDINALITY FROM m", eng.showCardinality(Some("m"), None),
      TsAnalytics.seriesCardinality(mPts, Long.MaxValue, 0L, Long.MaxValue, tombs))

    // a prefix reads the merged view of the store (a fresh plan)
    val web = P.copy(metric = "web.*")
    for (spec <- Seq(AnalyzeRate("v"), AnalyzeDeltaBy("v", 2 * Grain)))
      check(s"web.* $spec", eng.analyze(web, spec), reference(pts, tombs, web, spec),
        fromView = false)
  }

  test("serving-view reads: a foreign commit keeps the view, a delete shows next") {
    val eng = seededEngine()
    val spec = AnalyzeDeltaBy("v", 2 * Grain)
    val before = eng.analyze(P, spec).collect().toSeq
    val view = eng.servingView("m")
    assert(eng.putBatch(Seq(DataPoint("n", Map("host" -> "z"), 5 * Sec,
      Map("v" -> FieldValue.ofDouble(1.0))))).isRight)
    assert(eng.servingView("m") eq view, "a commit to n rebuilt m's view")
    assert(eng.analyze(P, spec).collect().toSeq == before)

    val tags = eng.analyze(P.copy(tags = Map("host" -> "c")), spec)
      .select("tags").head().getMap[String, String](0).toMap
    assert(eng.deleteRange("m", tags, 40 * Sec, 70 * Sec).isRight)
    val after = eng.analyze(P, spec)
    assertSame("after deleteRange", after,
      reference(eng.loadPoints().get, eng.loadTombstones(), P, spec))
    assert(after.collect().toSeq != before, "the delete is not visible")
  }
}
