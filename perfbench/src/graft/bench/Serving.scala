package graft.bench

import graft.client.{NbqlClient, QueryResult}
import graft.model.DataPoint
import graft.nbql.{NbqlExecutor, ShowTagKeysStatement, Statement}
import graft.server.{GraftTcpServer, Wire}
import graft.tsdb.{AnalyzeSpec, QueryParams, TsdbEngine}
import org.apache.spark.sql.{Row, SparkSession}
import java.util.concurrent.ConcurrentHashMap

/** The engine with spans around its public serving and write calls. With
  * tracing off every override is a plain delegation. With it on, serve
  * calls are serialized so the tier the engine reports for a call
  * (`lastServePath`, one field shared by all threads) is that call's. */
final class TracedEngine(spark: SparkSession, root: String, tracer: Tracer)
    extends TsdbEngine(spark, root) {
  private val lock = new Object

  private def serving[T](body: => T): T =
    if (!tracer.enabled) body
    else lock.synchronized {
      if (tracer.context.isEmpty) body
      else tracer.span("tsdb.serve") {
        val r = body
        tracer.rename("tsdb.serve." + TracedEngine.tierOf(lastServePath))
        r
      }
    }

  override def serveQuery(params: QueryParams): TsdbEngine.Served =
    serving(super.serveQuery(params))
  override def serveAnalyze(params: QueryParams, spec: AnalyzeSpec,
      splitNs: Option[Long]): TsdbEngine.Served =
    serving(super.serveAnalyze(params, spec, splitNs))
  override def serveByTags(params: QueryParams, tagKeys: Seq[String]): TsdbEngine.Served =
    serving(super.serveByTags(params, tagKeys))
  override def putBatch(points: Seq[DataPoint]): Either[String, Long] =
    tracer.span("tsdb.put_batch")(super.putBatch(points))
}

object TracedEngine {
  /** Serving tier named by the engine's `lastServePath`. */
  def tierOf(path: String): String =
    if (path == null) "spark"
    else if (path == "cache" || path == "analyze-cache") "cache"
    else if (path == "local") "local"
    else if (path.startsWith("local-rollup")) "local_rollup"
    else "spark"
}

/** Executor that attaches its spans to the client request being served.
  * Each connection is bound to its server handler thread once, by a
  * `SHOW TAG KEYS FROM __bind_<n>` statement sent before any load; the
  * client thread then publishes its open span per connection. */
final class TracedExecutor(engine: TsdbEngine, tracer: Tracer, conns: Int)
    extends NbqlExecutor(engine) {
  private val threadConn = new ConcurrentHashMap[Thread, Integer]()
  val connCtx =
    new java.util.concurrent.atomic.AtomicReferenceArray[Option[(Long, Long)]](
      Array.fill[Option[(Long, Long)]](conns)(None))

  override def run(st: Statement): Either[String, ExecResult] = st match {
    case ShowTagKeysStatement(m) if m.startsWith("__bind_") =>
      threadConn.put(Thread.currentThread(), m.stripPrefix("__bind_").toInt)
      super.run(st)
    case _ if tracer.enabled =>
      // a server handler thread takes its connection's request context;
      // an in-process caller already has its request span open
      val c = threadConn.get(Thread.currentThread())
      val ctx = if (c == null) tracer.context else connCtx.get(c.intValue)
      if (ctx.isEmpty) super.run(st)
      else tracer.withContext(ctx)(tracer.span("nbql.exec")(super.run(st)))
    case _ => super.run(st)
  }
}

/** A running server over one store plus `conns` connected clients. */
final class Serving(val engine: TracedEngine, tracer: Tracer, conns: Int) {
  val executor = new TracedExecutor(engine, tracer, conns)
  val server = new GraftTcpServer(executor, 0)
  server.start()
  val clients: Array[NbqlClient] = Array.tabulate(conns) { c =>
    val cl = NbqlClient.connect("127.0.0.1", server.boundPort, timeoutMs = 120000)
    cl.query(s"SHOW TAG KEYS FROM __bind_$c")
    cl
  }

  /** One request on connection `c`: the wire round trip, traced as the
    * request's root span when tracing is on. */
  def query(c: Int, text: String, req: Long): QueryResult =
    if (!tracer.enabled || req < 0) clients(c).query(text)
    else tracer.span("client.request", req = req, parent = 0L) {
      executor.connCtx.set(c, tracer.context)
      try clients(c).query(text) finally executor.connCtx.set(c, None)
    }

  def pushBulk(c: Int, pts: Seq[(String, Map[String, String], Long,
      Map[String, graft.model.FieldValue])], req: Long): Long =
    if (!tracer.enabled || req < 0) clients(c).pushBulk(pts)
    else tracer.span("client.request", req = req, parent = 0L) {
      executor.connCtx.set(c, tracer.context)
      try clients(c).pushBulk(pts) finally executor.connCtx.set(c, None)
    }

  /** One request through the in-process executor (parse, route, serve),
    * its rows materialized: (schema, rows). */
  def execute(text: String, req: Long): (org.apache.spark.sql.types.StructType, Array[Row]) = {
    def go() = executor.execute(text) match {
      case Right(r: executor.Rows) => (r.schema, r.rowIterator().toArray)
      case Right(other) => throw new IllegalStateException(s"not a result: $other")
      case Left(e) => throw new IllegalStateException(e)
    }
    if (!tracer.enabled || req < 0) go()
    else tracer.span("client.execute", req = req, parent = 0L)(go())
  }

  def close(): Unit = {
    clients.foreach(c => scala.util.Try(c.close()))
    server.stop()
  }
}

object Serving {
  /** Bytes the server wrote for a decoded result: each row is one framed
    * result part, then the end frame (frame = 5-byte header + payload +
    * 4-byte CRC). */
  def responseBytes(r: QueryResult): Long =
    r.rows.iterator.map(i => Wire.encodeQueryResultPart(i).length + 9L).sum +
      Wire.encodeQueryEnd(r.totalRows).length + 9L

  /** Per-layer numbers of the traced serving requests: self times by
    * layer (p50), the answering tier's share and serve time, and the
    * span balance check (root wall time against the sum of self times). */
  def layerMetrics(spans: Seq[Span], parseUs: Seq[Double], bytes: Seq[Double]): Map[String, Double] = {
    val self = Tracer.selfTimes(spans)
    def selfUs(name: String) = spans.filter(_.name == name).map(s => self(s.id) / 1e3)
    val serves = spans.filter(_.name.startsWith("tsdb.serve."))
    val tiers = Seq("cache", "local", "local_rollup", "spark")
    def durs(t: String) = serves.filter(_.name == s"tsdb.serve.$t").map(_.durNs.toDouble)
    val balance = Tracer.requestBalance(spans).map { case (w, s) => math.abs(w - s) / 1e3 }
    val puts = spans.filter(_.name == "tsdb.put_batch").map(_.durNs / 1e6)
    def orZero(d: Double) = if (d.isNaN) 0.0 else d
    Map(
      "server.wire_self_us" -> orZero(Stats.median(selfUs("client.request")) -
        (if (parseUs.isEmpty) 0.0 else Stats.median(parseUs))),
      "server.response_bytes" -> orZero(Stats.median(bytes)),
      "nbql.parse_us" -> orZero(Stats.median(parseUs)),
      "nbql.exec_self_us" -> orZero(Stats.median(selfUs("nbql.exec"))),
      "tsdb.serve_us.cache" -> orZero(Stats.median(durs("cache")) / 1e3),
      "tsdb.serve_us.local" -> orZero(Stats.median(durs("local")) / 1e3),
      "tsdb.serve_us.local_rollup" -> orZero(Stats.median(durs("local_rollup")) / 1e3),
      "tsdb.serve_ms.spark" -> orZero(Stats.median(durs("spark")) / 1e6),
      "tsdb.put_batch_ms.p50" -> orZero(Stats.median(puts)),
      "tsdb.put_batch_ms.p99" -> orZero(Stats.quantile(puts, 0.99)),
      "trace.balance_err_us" -> (if (balance.isEmpty) 0.0 else balance.max),
      "trace.requests" -> spans.count(_.name == "client.request").toDouble) ++
      tiers.map(t => s"tsdb.tier_share.$t" -> durs(t).size / math.max(1.0, serves.size.toDouble))
  }
}
