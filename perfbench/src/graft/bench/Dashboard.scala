package graft.bench

import graft.nbql.NbqlParser
import graft.tsdb.{AnalyzeDelta, AnalyzeEwmaBy, AnalyzeIrate, AnalyzeSpec, QueryParams, SmoothSpec}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Independent users refreshing dashboards: an open loop of raw range
  * reads over NBQL/TCP and rollup-served downsamples and analytics, with a
  * share of exact repeats and Zipf-skewed series. The store fits every
  * driver-resident tier, so wire, parse, route and tier code are the
  * whole cost and Spark is nearly idle.
  *
  * Downsamples and analytics go through the in-process executor, not the
  * wire: the TCP server cannot encode the rows the driver-resident rollup
  * tier returns (they carry no schema, and its by-name field reads fail),
  * so over TCP every one of them fails. Each run re-probes that defect
  * once and records the outcome under `known_defects`. */
final class Dashboard extends Phase {
  import Dashboard._
  import Gen.Sec

  val name = "dashboard"
  private var store: Store = _
  private def engine = store.engine
  private def serving = store.serving
  private var cpu: Gen.Series = _
  private var rollupBuildS = 0.0
  private var defect = ""

  def sizes: Map[String, Any] = Map(
    "metric" -> cpu.metric, "series" -> cpu.nSeries, "points_per_series" -> cpu.nPoints,
    "rows" -> cpu.rows, "step_s" -> cpu.stepNs / 1e9, "regions" -> cpu.regions,
    "overwrite_share" -> cpu.overwriteShare, "deleted_ranges" -> cpu.tombRanges,
    "deleted_points" -> cpu.tombPoints, "deleted_series" -> cpu.tombSeries,
    "rows_vs_driver_resident_budget" -> cpu.rows / 1e6,
    "mix" -> Map("raw_tcp" -> RawShare, "downsample_inproc" -> AggShare,
      "analyze_inproc" -> (1 - RawShare - AggShare), "exact_repeat" -> RepeatShare),
    "zipf_s" -> ZipfS, "raw_range_min" -> RawMinutes, "downsample_windows_15m" -> AggWindows,
    "analyze_windows_5m" -> AnalyzeWindows, "connections" -> "nproc", "loop" -> "open",
    "reference_rate_per_s" -> RefRate, "ladder_per_s" -> Ladder, "slo_p99_ms" -> SloMs)

  def series(seed: Long): Seq[Gen.Series] = {
    cpu = Gen.Series("dash.cpu", 60, 480, 60L * Sec, 6, counter = false,
      overwriteShare = 0.02, tombRanges = 3, tombPoints = 4, tombSeries = 1, seed = seed)
    Seq(cpu)
  }

  def prepare(ctx: Ctx, st: Store): Unit = {
    store = st
    engine.registerRollup(cpu.metric, RollupNs, Seq("value"),
      smooth = Seq(SmoothSpec("value", "ewma", Alpha)))
    // the first requests build the driver-resident copy and the rollup
    val warm = requests(ctx.seed ^ 0x5eedL, 60)
    val t1 = System.nanoTime()
    warm.filter(_.kind == "downsample").take(1).foreach(r => serving.execute(r.text, -1L))
    rollupBuildS = (System.nanoTime() - t1) / 1e9
    warm.foreach(r => send(0, r, -1L))
    defect = probeDefect(warm.find(_.kind == "downsample").get.text)
  }

  /** Send one downsample over TCP on a connection of its own. */
  private def probeDefect(text: String): String = {
    val c = graft.client.NbqlClient.connect("127.0.0.1", serving.server.boundPort)
    try { c.query(text); "" } catch { case e: Exception => e.getMessage.take(200) }
    finally c.close()
  }

  /** One request: raw reads over the wire on connection `c`, the rest in
    * process. Returns a reader of the answer, run only for checked ones. */
  private def send(c: Int, q: Req, req: Long): () => Seq[Ans] =
    if (q.kind == "raw") {
      val r = serving.query(c, q.text, req)
      () => r.rows.map(Ans.of)
    } else {
      val (sch, rows) = serving.execute(q.text, req)
      () => rows.toSeq.map(Ans.of(_, sch))
    }

  /** The request stream: a pure function of the seed. */
  private def requests(seed: Long, n: Int): IndexedSeq[Req] = {
    val r = new java.util.Random(seed)
    val z = new Gen.Zipf(cpu.nSeries, ZipfS)
    val out = scala.collection.mutable.ArrayBuffer[Req]()
    val distinct = scala.collection.mutable.ArrayBuffer[Req]()
    def host(s: Int) = "\"" + cpu.host(s) + "\""
    while (out.size < n) {
      if (r.nextDouble() < RepeatShare && distinct.size >= 16) {
        out += distinct(distinct.size - 1 - r.nextInt(math.min(64, distinct.size)))
      } else {
        val v = r.nextDouble()
        val s = z.sample(r)
        val q = if (v < RawShare) {
          val len = RawMinutes(r.nextInt(RawMinutes.size))
          val a = cpu.ts(r.nextInt(cpu.nPoints - len))
          val b = a + len * 60L * Sec - 1
          Req("raw", s"QUERY dash.cpu FROM $a TO $b TAGGED (host=${host(s)})", s, a, b, None)
        } else if (v < RawShare + AggShare) {
          val w = AggWindows(r.nextInt(AggWindows.size))
          val a = Gen.T0 + r.nextInt(32 - w) * AggNs
          val b = a + w * AggNs - 1
          Req("downsample", s"QUERY dash.cpu FROM $a TO $b TAGGED (host=${host(s)}) " +
            "AGGREGATE BY 15m (avg(value), max(value), count(value))", s, a, b, None)
        } else {
          val w = AnalyzeWindows(r.nextInt(AnalyzeWindows.size))
          val k = r.nextInt(3)
          // EWMA's stored state is a prefix fold: the driver-resident tier
          // serves it only from the first window of the series
          val a = if (k == 2) Gen.T0 else Gen.T0 + r.nextInt(96 - w) * RollupNs
          val b = a + w * RollupNs - 1
          val (clause, spec) = k match {
            case 0 => ("ANALYZE DELTA(value)", AnalyzeDelta("value"))
            case 1 => ("ANALYZE IRATE(value)", AnalyzeIrate("value"))
            case _ => (s"ANALYZE EWMA(value, $Alpha) BY 15m", AnalyzeEwmaBy("value", Alpha, AggNs))
          }
          Req("analyze", s"QUERY dash.cpu FROM $a TO $b TAGGED (host=${host(s)}) $clause",
            s, a, b, Some(spec))
        }
        distinct += q
        out += q
      }
    }
    out.toIndexedSeq
  }

  /** Offer `reqs` at `rate` per second for `seconds`; keep the answers of
    * the requests `keep` selects; trace every `traceEvery`-th request. */
  private def phase(ctx: Ctx, reqs: IndexedSeq[Req], rate: Double, seconds: Double,
      seed: Long, keep: Int => Boolean, traceEvery: Int): Phase = {
    val sched = Stats.poissonSchedule((rate * seconds).toInt, rate, new java.util.Random(seed))
    val answers = new ConcurrentHashMap[Int, () => Seq[Ans]]()
    val parseUs = new ConcurrentLinkedQueue[java.lang.Double]()
    val bytes = new ConcurrentLinkedQueue[java.lang.Double]()
    val traced = ConcurrentHashMap.newKeySet[Int]()
    val done = Load.openLoop(sched, ctx.cpus) { (c, i) =>
      val q = reqs(i % reqs.size)
      val on = ctx.traced && i % traceEvery == 0
      if (on) {
        traced.add(i)
        if (q.kind == "raw") {
          val p0 = System.nanoTime(); NbqlParser.parse(q.text)
          parseUs.add((System.nanoTime() - p0) / 1e3)
        }
      }
      val req = if (on) ctx.tracer.newRequest() else -1L
      if (on && q.kind == "raw") {
        val res = serving.query(c, q.text, req)
        bytes.add(Serving.responseBytes(res).toDouble)
        if (keep(i)) answers.put(i, () => res.rows.map(Ans.of))
      } else {
        val res = send(c, q, req)
        if (keep(i)) answers.put(i, res)
      }
    }
    Phase(rate, seconds, done, answers, parseUs.toArray.toSeq.map(_.asInstanceOf[java.lang.Double].doubleValue),
      bytes.toArray.toSeq.map(_.asInstanceOf[java.lang.Double].doubleValue),
      traced.toArray.map(_.asInstanceOf[Int]).toSet)
  }

  def run(ctx: Ctx, st: Store, seconds: Double): PhaseOut = {
    val start = System.nanoTime()
    val reqs = requests(ctx.seed, 30000)
    // capacity ladder first: fixed offered rates, the highest meeting the
    // SLO; it also brings the serving code to its compiled steady state
    val rungSeconds = seconds * (1 - RefShare) / Ladder.size
    val rungs = Ladder.zipWithIndex.map { case (rate, k) =>
      phase(ctx, reqs.drop(6000 * (k + 1)), rate, rungSeconds, ctx.seed + 2 + k, _ => false,
        traceEvery = Int.MaxValue)
    }
    // latency phase at a fixed offered rate; in the traced run every 2nd
    // request is traced and the other half measures the overhead
    val cache0 = engine.cacheStats
    val ref = phase(ctx, reqs, RefRate, seconds * RefShare, ctx.seed + 1,
      i => i % 67 == 3, traceEvery = 2)
    val cache1 = engine.cacheStats
    val best = rungs.takeWhile(_.meetsSlo).lastOption

    // checks, outside the timed windows
    var checked = 0L
    val wrong = scala.collection.mutable.ArrayBuffer[String]()
    ref.answers.forEach { (i, answer) =>
      val q = reqs(i % reqs.size)
      val got = answer()
      val ok = q.kind match {
        case "raw" => Check.raw(got, cpu.expectRaw(q.s, q.from, q.to))
        case "downsample" => Check.windows(got, cpu.expectRaw(q.s, q.from, q.to), q.from, AggNs)
        case _ =>
          val p = QueryParams(cpu.metric, Map("host" -> cpu.host(q.s)), q.from, Some(q.to))
          val df = engine.analyze(p, q.spec.get)
          Check.same(got, df.collect().toSeq.map(Ans.of(_, df.schema)))
      }
      checked += 1
      if (!ok) wrong += q.text
    }
    val failedReqs = (ref.done ++ rungs.flatMap(_.done)).count(!_.ok)
    val lat = ref.done.map(_.t.latencyMs).toSeq
    // the tail: median of the p99s of the phase's fifths, so one pause
    // (a collection, a compile) moves one fifth, not the figure
    val windows = ref.done.grouped(math.max(1, (ref.done.length + TailWindows - 1) / TailWindows)).toSeq
    val tail = Stats.median(windows.map(w => Stats.quantile(w.map(_.t.latencyMs).toSeq, 0.99)))
    val lag = Stats.quantile(ref.done.map(_.t.generatorLagMs).filterNot(_.isNaN).toSeq, 0.99)

    val spans = ctx.tracer.all.filter(_.startNs >= start)
    val hits = (cache1._1 - cache0._1).toDouble
    val lookups = hits + (cache1._2 - cache0._2)
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val (on, off) = ref.done.partition(d => ref.traced(d.i))
      Serving.layerMetrics(spans, ref.parseUs, ref.bytes) ++ Map(
        "tsdb.cache_hit_ratio" -> hits / math.max(1.0, lookups),
        "tsdb.cache_lookups" -> lookups,
        "tsdb.rollup_build_s" -> rollupBuildS,
        "harness.generator_lag_ms" -> lag,
        "trace.overhead_ms" -> (Stats.median(on.map(_.t.latencyMs).toSeq) -
          Stats.median(off.map(_.t.latencyMs).toSeq)))
    }
    PhaseOut(
      e2e = Map("read_p50_ms" -> Stats.median(lat)),
      layers = layers,
      attempted = ref.done.length + rungs.map(_.done.length).sum,
      failed = failedReqs + wrong.size, checked = checked,
      record = Map(
        "latency_samples" -> lat.size,
        "read_p50_ms" -> Stats.median(lat), "read_p99_ms" -> Stats.quantile(lat, 0.99),
        "read_p99_ms_median_of_windows" -> tail,
        "read_p90_ms" -> Stats.quantile(lat, 0.9), "read_p95_ms" -> Stats.quantile(lat, 0.95),
        "read_p99_ms_by_window" -> windows.map(w => Stats.quantile(w.map(_.t.latencyMs).toSeq, 0.99)),
        "read_p50_ms_by_kind" -> Seq("raw", "downsample", "analyze").map(k => k -> Stats.median(
          ref.done.filter(d => reqs(d.i % reqs.size).kind == k).map(_.t.latencyMs).toSeq)).toMap,
        "read_qps" -> ref.done.length / ref.seconds,
        "max_qps_at_slo" -> best.map(_.rate).getOrElse(0.0),
        "generator_lag_p99_ms" -> lag,
        "ladder" -> rungs.map(p => Map("offered_per_s" -> p.rate, "achieved_per_s" -> p.achieved,
          "p50_ms" -> p.p50, "p99_ms" -> p.p99, "requests" -> p.done.length,
          "last_done_s" -> p.lastDoneS, "meets_slo" -> p.meetsSlo)),
        "cache_hit_ratio" -> hits / math.max(1.0, lookups), "cache_lookups" -> lookups,
        "rollup_build_s" -> rollupBuildS,
        "wrong_answers" -> wrong.toSeq,
        "known_defects" -> Map("tcp_driver_rollup_tier_rows" -> defect)))
  }
}

object Dashboard {
  val RollupNs: Long = 5 * 60 * Gen.Sec
  val AggNs: Long = 15 * 60 * Gen.Sec
  val Alpha = 0.3
  /** Raw reads (over TCP) are most of the mix, so the median falls inside
    * their latency mode rather than on the gap between the wire and the
    * in-process modes, where the seed's mix would decide it. */
  val RawShare = 0.65
  val AggShare = 0.175
  val RepeatShare = 0.2
  val ZipfS = 1.1
  val RawMinutes: Seq[Int] = Seq(15, 30, 60, 120)
  val AggWindows: Seq[Int] = Seq(4, 8, 16)
  val AnalyzeWindows: Seq[Int] = Seq(12, 24, 48)
  /** Offered rate of the latency phase, and its share of the run. */
  val RefRate = 600.0
  val RefShare = 0.7
  val TailWindows = 5
  /** Capacity ladder (requests/s) and the p99 limit a rung must meet. */
  val Ladder: Seq[Double] = Seq(500.0, 1000.0, 2000.0, 4000.0)
  val SloMs = 25.0

  final case class Req(kind: String, text: String, s: Int, from: Long, to: Long,
      spec: Option[AnalyzeSpec])

  final case class Phase(rate: Double, seconds: Double, done: Array[Load.Done],
      answers: ConcurrentHashMap[Int, () => Seq[Ans]], parseUs: Seq[Double], bytes: Seq[Double],
      traced: Set[Int]) {
    private lazy val lat = done.map(_.t.latencyMs).toSeq
    lazy val p50: Double = Stats.median(lat)
    lazy val p99: Double = Stats.quantile(lat, 0.99)
    /** Seconds from the first due time to the last completion. */
    lazy val lastDoneS: Double =
      if (done.isEmpty) 0.0 else (done.map(_.t.doneNs).max - done.map(_.t.dueNs).min) / 1e9
    lazy val achieved: Double = done.length / math.max(1e-9, lastDoneS)
    /** Nothing failed and p99 (timed from due times, so a growing backlog
      * raises it) is within the limit. */
    lazy val meetsSlo: Boolean = done.forall(_.ok) && p99 <= SloMs
  }
}
