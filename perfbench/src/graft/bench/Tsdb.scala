package graft.bench

/** The store every phase of the tsdb workload reads and writes, served
  * over NBQL/TCP on nproc connections. */
final class Store(val engine: TracedEngine, val serving: Serving, val root: String) {
  @volatile private var open = true
  def close(): Unit = if (open) { open = false; serving.close(); engine.close() }
}

/** What one phase of the tsdb workload reports (see [[Outcome]]). */
final case class PhaseOut(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, checked: Long, record: Map[String, Any])

/** One measured phase over the shared store. */
trait Phase {
  def name: String
  /** The metrics this phase loads into the store. */
  def series(seed: Long): Seq[Gen.Series]
  /** After the load: registrations, side inputs and warm-up. */
  def prepare(ctx: Ctx, store: Store): Unit
  /** Drive the phase's load for `seconds`, then check its answers. */
  def run(ctx: Ctx, store: Store, seconds: Double): PhaseOut
  def sizes: Map[String, Any]
}

/** The TSDB user paths, as three phases over one store in one JVM:
  * independent dashboard users (open loop over TCP, driver-resident
  * tiers), one analyst's Spark-bound ad-hoc questions (closed loop), and
  * ingest (PUSHS writers with a reader, compaction, reopen, streaming).
  * They share one JVM and one set-up because each fresh JVM pays a cold
  * Spark set-up of tens of seconds. */
final class Tsdb extends Workload {
  private val dashboard = new Dashboard
  private val adhoc = new Adhoc
  private val ingest = new IngestLoad
  private val phases = Seq[Phase](dashboard, adhoc, ingest)
  /** Share of the run each phase measures, in order (the adhoc phase runs
    * its fixed cycles whatever its share). */
  private val shares = Seq(0.7, 0.05, 0.25)
  private var store: Store = _
  private var loadRowsPerS = 0.0
  private var rows = 0L

  def sizes: Map[String, Any] = phases.map(p => p.name -> p.sizes).toMap ++
    Map("store_rows" -> rows, "driver_resident_budget_rows" -> 1000000,
      "result_cache" -> "256 entries x 100k rows per entry")

  def setup(ctx: Ctx, rep: Int): Unit = {
    val root = ctx.dir(s"store$rep")
    val engine = new TracedEngine(ctx.spark, root, ctx.tracer)
    val t0 = System.nanoTime()
    rows = Gen.load(engine, phases.flatMap(_.series(ctx.seed)), ctx.cpus)
    loadRowsPerS = rows / ((System.nanoTime() - t0) / 1e9)
    store = new Store(engine, new Serving(engine, ctx.tracer, ctx.cpus), root)
    phases.foreach(_.prepare(ctx, store))
  }

  def teardown(): Unit = if (store != null) { store.close(); store = null }

  def measure(ctx: Ctx): Outcome = {
    val outs = phases.zip(shares).map { case (p, share) =>
      p.name -> p.run(ctx, store, ctx.seconds * share)
    }.toMap
    val (d, a, i) = (outs("dashboard"), outs("adhoc"), outs("ingest"))
    val spans = ctx.tracer.all
    val balance = Tracer.requestBalance(spans).map { case (w, s) => math.abs(w - s) / 1e3 }
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      d.layers ++ a.layers ++ i.layers ++ Map(
        "tsdb.load_rows_per_s" -> loadRowsPerS,
        "trace.balance_err_us" -> (if (balance.isEmpty) 0.0 else balance.max),
        "trace.requests" -> spans.count(_.parent == 0L).toDouble)
    Outcome(
      e2e = Map("latency_p50_ms" -> d.e2e("read_p50_ms"), "spark_query_ms" -> a.e2e("read_mean_ms"),
        "throughput_per_s" -> i.e2e("stream_rows_per_s")),
      layers = layers,
      attempted = outs.values.map(_.attempted).sum, failed = outs.values.map(_.failed).sum,
      checked = outs.values.map(_.checked).sum,
      record = outs.map { case (k, o) => k -> (o.record ++ Map("attempted" -> o.attempted,
        "failed" -> o.failed, "checked" -> o.checked)) } ++
        Map("load_rows_per_s" -> loadRowsPerS),
      spans = spans)
  }
}
