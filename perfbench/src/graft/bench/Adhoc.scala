package graft.bench

import graft.nbql.NbqlParser
import graft.tsdb.{AnalyzeDelta, AnalyzeRate, AnalyzeSpec, AnalyzeTwa, QueryParams}

/** One analyst waiting on each answer: a closed loop, one connection over
  * NBQL/TCP, of distinct Spark-bound questions — analytics with no rollup,
  * tag-grouped downsamples, cardinality and value-filtered raw scans —
  * over a store with overwrites and tombstones (which keep the engine's
  * version merge live). The fixed Spark cost per query is most of every
  * request here; wire and parse barely register. */
final class Adhoc extends Phase {
  import Adhoc._
  import Gen.Sec

  val name = "adhoc"
  private var store: Store = _
  private def engine = store.engine
  private def serving = store.serving
  private var cpu: Gen.Series = _
  private var req: Gen.Series = _

  def sizes: Map[String, Any] = Map(
    "metrics" -> Seq(cpu, req).map(m => Map("metric" -> m.metric, "series" -> m.nSeries,
      "points_per_series" -> m.nPoints, "rows" -> m.rows, "step_s" -> m.stepNs / 1e9,
      "regions" -> m.regions, "overwrite_share" -> m.overwriteShare,
      "deleted_ranges" -> m.tombRanges, "deleted_points" -> m.tombPoints,
      "deleted_series" -> m.tombSeries,
      "rows_vs_driver_resident_budget" -> m.rows / 1e6)),
    "mix" -> Kinds, "connections" -> 1, "loop" -> "closed",
    "range_minutes" -> Seq(60, 420), "repeat_share" -> 0.0)

  def series(seed: Long): Seq[Gen.Series] = {
    cpu = Gen.Series("adhoc.cpu", 30, 480, 60L * Sec, 6, counter = false,
      overwriteShare = 0.03, tombRanges = 4, tombPoints = 6, tombSeries = 2, seed = seed)
    req = Gen.Series("adhoc.req", 16, 480, 60L * Sec, 4, counter = true,
      overwriteShare = 0.0, tombRanges = 2, tombPoints = 0, tombSeries = 0, seed = seed)
    Seq(cpu, req)
  }

  def prepare(ctx: Ctx, st: Store): Unit = store = st

  /** Distinct Spark-bound questions, cycling through [[Kinds]]. */
  private def requests(seed: Long, n: Int): IndexedSeq[Req] = {
    val r = new java.util.Random(seed)
    (0 until n).map { i =>
      val len = 60 + r.nextInt(360)
      val a = Gen.T0 + r.nextInt(480 - len) * 60L * Sec
      val b = a + len * 60L * Sec - 1
      Kinds(i % Kinds.size) match {
        case "rate" =>
          val s = r.nextInt(req.nSeries)
          Req("rate", s"""QUERY adhoc.req FROM $a TO $b TAGGED (host="${req.host(s)}") ANALYZE RATE(value)""",
            req, Map("host" -> req.host(s)), a, b, Some(AnalyzeRate("value")))
        case "delta" =>
          val g = s"r${r.nextInt(req.regions)}"
          Req("delta", s"""QUERY adhoc.req FROM $a TO $b TAGGED (region="$g") ANALYZE DELTA(value)""",
            req, Map("region" -> g), a, b, Some(AnalyzeDelta("value")))
        case "twa" =>
          val s = r.nextInt(cpu.nSeries)
          val w = 10 + r.nextInt(50)
          Req("twa", s"""QUERY adhoc.cpu FROM $a TO $b TAGGED (host="${cpu.host(s)}") ANALYZE TWA(value) BY ${w}m""",
            cpu, Map("host" -> cpu.host(s)), a, b, Some(AnalyzeTwa("value", w * 60L * Sec)))
        case "group" =>
          val w = 10 + r.nextInt(50)
          Req("group", s"QUERY adhoc.cpu FROM $a TO $b AGGREGATE BY ${w}m (avg(value), count(value)) " +
            "GROUP BY TAGS (region)", cpu, Map.empty, a, b, None, w * 60L * Sec)
        case "cardinality" =>
          val w = 10 + r.nextInt(710)
          Req("cardinality", s"SHOW CARDINALITY FROM adhoc.cpu BY ${w}m", cpu, Map.empty, 0L, 0L,
            None, w * 60L * Sec)
        case _ =>
          val s = r.nextInt(cpu.nSeries)
          // a value filter sends a raw scan down the Spark path whatever
          // the metric's size; every generated value passes it
          Req("scan", s"""QUERY adhoc.cpu FROM $a TO $b TAGGED (host="${cpu.host(s)}") FILTER (value >= 0)""",
            cpu, Map("host" -> cpu.host(s)), a, b, None, s = s)
      }
    }
  }

  /** The answer computed without the serving path: from the generator
    * where that is simple, else from the engine's raw Spark path. */
  private def expected(q: Req): Seq[Ans] = q.kind match {
    case "scan" =>
      cpu.expectRaw(q.s, q.from, q.to).map { case (t, v) => Ans(t, Map("value" -> v)) }
    case "group" =>
      (0 until cpu.nSeries).flatMap(s => cpu.expectRaw(s, q.from, q.to).map(p => (s % cpu.regions, p)))
        .groupBy { case (g, (t, _)) => (g, t / q.width * q.width) }
        .map { case ((_, w), ps) =>
          val vs = ps.map(_._2._2)
          Ans(w, Map("avg_value" -> vs.sum / vs.size, "count_value" -> vs.size.toDouble))
        }.toSeq
    case "cardinality" =>
      val df = engine.showCardinality(Some(cpu.metric), Some(q.width))
      df.collect().toSeq.map(Ans.of(_, df.schema))
    case _ =>
      val df = engine.analyze(QueryParams(q.series.metric, q.tags, q.from, Some(q.to)), q.spec.get)
      df.collect().toSeq.map(Ans.of(_, df.schema))
  }

  def run(ctx: Ctx, st: Store, seconds: Double): PhaseOut = {
    val start = System.nanoTime()
    val reqs = requests(ctx.seed, 5000)
    val answers = scala.collection.mutable.Map[Int, Seq[Ans]]()
    val parseUs = scala.collection.mutable.ArrayBuffer[Double]()
    val bytes = scala.collection.mutable.ArrayBuffer[Double]()
    val spark = scala.collection.mutable.ArrayBuffer[(Map[String, Double], Double)]()
    val tracedIdx = scala.collection.mutable.Set[Int]()
    // one untimed cycle of every question kind warms their code paths
    requests(ctx.seed ^ 0x3a3aL, Kinds.size).foreach(q => serving.query(0, q.text, -1L))
    // the traced run traces every other cycle; the rest give the overhead
    val cycles = if (ctx.traced) 2 else TimedCycles
    val done = Load.closedLoop(seconds, minRequests = cycles * Kinds.size) { i =>
      val q = reqs(i)
      val on = ctx.traced && (i / Kinds.size) % 2 == 0
      if (on) {
        tracedIdx += i
        val p0 = System.nanoTime(); NbqlParser.parse(q.text)
        parseUs += (System.nanoTime() - p0) / 1e3
        ctx.probe.foreach { p => p.drain(); p.reset(); p.active = true }
      }
      val w0 = System.currentTimeMillis()
      val res = serving.query(0, q.text, if (on) ctx.tracer.newRequest() else -1L)
      val w1 = System.currentTimeMillis()
      if (on) {
        bytes += Serving.responseBytes(res).toDouble
        ctx.probe.foreach { p =>
          p.drain(); p.active = false
          spark += ((p.take(w0, w1), res.rows.size.toDouble))
        }
      }
      if (i % 3 == 0) answers(i) = res.rows.map(Ans.of)
    }

    var checked = 0L
    val wrong = scala.collection.mutable.ArrayBuffer[String]()
    answers.toSeq.sortBy(_._1).foreach { case (i, got) =>
      checked += 1
      if (!Check.same(got, expected(reqs(i)))) wrong += reqs(i).text
    }
    val lat = done.map(_.t.latencyMs).toSeq
    val tail = Stats.quantile(lat, 0.9)
    val spans = ctx.tracer.all.filter(_.startNs >= start)
    // the wire and parse layers are reported from the dashboard phase;
    // here they are kept in the record only
    val wire = if (!ctx.traced) Map.empty[String, Double]
      else Serving.layerMetrics(spans, parseUs.toSeq, bytes.toSeq)
    val overheadMs = if (!ctx.traced) 0.0 else {
      val (on, off) = done.partition(d => tracedIdx(d.i))
      Stats.median(on.map(_.t.latencyMs).toSeq) - Stats.median(off.map(_.t.latencyMs).toSeq)
    }
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      def med(k: String) = Stats.median(spark.map(_._1(k)).toSeq)
      val scanned = spark.map(_._1("rows_scanned")).sum
      val returned = spark.map(_._2).sum
      SparkProbe.counters.map { case (n, _) => s"tsdb.spark.$n" -> med(n) }.toMap ++ Map(
        "tsdb.serve_ms.spark" -> wire("tsdb.serve_ms.spark"),
        "plans.rows_scanned_per_row_returned" -> scanned / math.max(1.0, returned),
        "plans.files_scanned" -> med("files_scanned"))
    }
    val elapsed = (done.last.t.doneNs - done.head.t.dueNs) / 1e9
    PhaseOut(
      e2e = Map("read_mean_ms" -> lat.sum / lat.size),
      layers = layers,
      attempted = done.length, failed = done.count(!_.ok) + wrong.size, checked = checked,
      record = Map("latency_samples" -> lat.size,
        "read_p50_ms" -> Stats.median(lat), "read_p90_ms" -> tail,
        "read_qps" -> done.length / elapsed,
        "p50_ms_by_kind" -> Kinds.map(k => k -> Stats.median(done.filter(d =>
          reqs(d.i).kind == k).map(_.t.latencyMs).toSeq)).toMap,
        "read_mean_ms" -> lat.sum / lat.size,
        "wrong_answers" -> wrong.toSeq, "traced_layers" -> wire,
        "trace_overhead_ms" -> overheadMs))
  }
}

object Adhoc {
  val Kinds: Seq[String] = Seq("rate", "delta", "twa", "group", "cardinality", "scan")
  /** Timed cycles through [[Kinds]] in an untraced run. */
  val TimedCycles = 1

  final case class Req(kind: String, text: String, series: Gen.Series,
      tags: Map[String, String], from: Long, to: Long, spec: Option[AnalyzeSpec],
      width: Long = 0L, s: Int = -1)
}
