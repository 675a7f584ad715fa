package graft.bench

import graft.model.FieldValue
import graft.server.Wire
import graft.tsdb.{QueryParams, TsdbEngine}
import java.util.BitSet

/** Writers pushing PUSHS batches at a fixed row rate (open loop) while one
  * closed-loop reader queries the metric being written; then compaction,
  * a close and reopen of the store with a durability check, then a
  * Structured-Streaming phase over seeded JSON files. Every commit moves
  * the metric's epoch, so the result cache and the driver-resident copy
  * are invalidated under the reader: a read-side caching gain that costs
  * writes, or reads under writes, shows here. */
final class IngestLoad extends Phase {
  import IngestLoad._
  import Gen.Sec

  val name = "ingest"
  private var store: Store = _
  private def engine = store.engine
  private def serving = store.serving
  private var hist: Gen.Series = _
  private var streamDir = ""
  private var streamRows = 0L
  private var seed = 0L

  def sizes: Map[String, Any] = Map(
    "metric" -> hist.metric, "series" -> hist.nSeries, "history_points_per_series" -> hist.nPoints,
    "history_rows" -> hist.rows, "overwrite_share" -> hist.overwriteShare,
    "deleted_ranges" -> hist.tombRanges, "deleted_points" -> hist.tombPoints,
    "batch_rows" -> BatchRows, "batches_per_s" -> BatchRate, "write_share_of_phase" -> WriteShare,
    "writer_connections" -> "nproc-1", "reader_connections" -> 1,
    "loop" -> "open (writers), closed (reader)",
    "stream_files" -> StreamFiles, "stream_rows" -> StreamFiles * StreamRowsPerFile)

  /** Value of pushed point (s, t). */
  private def pv(s: Int, t: Int): Double = (Gen.hash(seed, 99L, s.toLong, t.toLong) >>> 1) % 4000L / 4.0

  /** Batch `j`: BatchRows points spread over the series, each at the next
    * timestamp after the history. */
  private def batch(j: Int): Seq[(Int, Int)] = (0 until BatchRows).map { k =>
    val n = j * BatchRows + k
    (n % hist.nSeries, hist.nPoints + n / hist.nSeries)
  }

  def series(seed: Long): Seq[Gen.Series] = {
    this.seed = seed
    hist = Gen.Series("ingest.cpu", 24, 240, 60L * Sec, 4, counter = false,
      overwriteShare = 0.02, tombRanges = 2, tombPoints = 2, tombSeries = 0, seed = seed)
    Seq(hist)
  }

  def prepare(ctx: Ctx, st: Store): Unit = {
    store = st
    streamDir = ctx.dir("stream")
    streamRows = writeStreamFiles(streamDir)
    // first touch of the write path and of the metric's resident copy
    serving.pushBulk(0, Seq(("ingest.warm", Map("host" -> "w"), Gen.T0,
      Map("value" -> FieldValue.ofDouble(1.0)))), -1L)
    serving.query(ctx.cpus - 1, readText(0), -1L)
  }

  private def writeStreamFiles(dir: String): Long = {
    (0 until StreamFiles).foreach { f =>
      val w = new java.io.PrintWriter(new java.io.File(dir, f"part-$f%03d.json"), "UTF-8")
      try (0 until StreamRowsPerFile).foreach { k =>
        val n = f * StreamRowsPerFile + k
        val v = (Gen.hash(seed, 98L, n.toLong) >>> 1) % 4000L / 4.0
        w.println(s"""{"metric":"ingest.stream","tags":{"host":"s${n % 20}"},""" +
          s""""timestamp":${Gen.T0 + n * Sec},"fields":{"value":{"d":$v}}}""")
      } finally w.close()
    }
    StreamFiles.toLong * StreamRowsPerFile
  }

  private def readFrom: Long = hist.ts(hist.nPoints - ReadBackPoints)
  private def readText(s: Int): String =
    s"""QUERY ingest.cpu FROM $readFrom TO ${Gen.T0 + 100L * 86400 * Sec} TAGGED (host="${hist.host(s)}")"""

  def run(ctx: Ctx, st: Store, seconds: Double): PhaseOut = {
    val start = System.nanoTime()
    val writers = math.max(1, ctx.cpus - 1)
    val nBatches = (BatchRate * seconds * WriteShare).toInt
    val sched = Array.tabulate(nBatches)(j => (j * 1e9 / BatchRate).toLong)
    val acked = Array.fill(hist.nSeries)(new BitSet())
    val v0 = engine.version
    val stalls0 = engine.writeStallCount
    @volatile var writing = true

    // the reader: closed loop on the last connection, checking each answer
    val reads = scala.collection.mutable.ArrayBuffer[(Double, Boolean, Boolean)]() // ms, afterCommit, ok
    val readerErr = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      val r = new java.util.Random(ctx.seed + 7)
      var lastEpoch = engine.metricEpoch(hist.metric)
      var i = 0
      while (writing) {
        val s = r.nextInt(hist.nSeries)
        val must = acked(s).synchronized(acked(s).clone().asInstanceOf[BitSet])
        val epoch = engine.metricEpoch(hist.metric)
        val t0 = System.nanoTime()
        val res = try Some(serving.query(ctx.cpus - 1, readText(s),
          if (ctx.traced && i % 2 == 0) ctx.tracer.newRequest() else -1L))
          catch { case _: Exception => readerErr.incrementAndGet(); None }
        val ms = (System.nanoTime() - t0) / 1e6
        res.foreach { q => reads += ((ms, epoch != lastEpoch, readOk(s, q.rows.map(Ans.of), must))) }
        lastEpoch = epoch
        i += 1
      }
    }, "reader")
    reader.start()
    val t0 = System.nanoTime()
    val done = Load.openLoop(sched, writers) { (c, j) =>
      val pts = batch(j)
      serving.pushBulk(c, pts.map { case (s, t) =>
        (hist.metric, hist.tags(s), hist.ts(t), Map("value" -> FieldValue.ofDouble(pv(s, t)))) },
        if (ctx.traced && j % 2 == 0) ctx.tracer.newRequest() else -1L)
      pts.foreach { case (s, t) => acked(s).synchronized(acked(s).set(t)) }
    }
    val writeS = (System.nanoTime() - t0) / 1e9
    writing = false
    reader.join()
    val ackedRows = done.count(_.ok).toLong * BatchRows
    val commits = engine.version - v0
    val (filesLive, _) = engine.fileCounts
    val logBytes = Main.dirBytes(new java.io.File(store.root, "_log"))
    val stalls = engine.writeStallCount - stalls0

    // compaction, then durability: a reopened store holds every acked row
    val waf0 = engine.compactionStats
    val c0 = System.nanoTime()
    engine.compact()
    val compactS = (System.nanoTime() - c0) / 1e9
    val rewritten = engine.compactionStats.bytesWritten - waf0.bytesWritten
    val userBytes = (0 until hist.nSeries).iterator.flatMap(s => (0 until hist.nPoints).map(t =>
      Wire.encodePush(hist.metric, hist.tags(s), hist.ts(t),
        Map("value" -> FieldValue.ofDouble(hist.finalValue(s, t)))).length.toLong)).sum +
      done.count(_.ok).toLong * BatchRows * Wire.encodePush(hist.metric, hist.tags(0), hist.ts(0),
        Map("value" -> FieldValue.ofDouble(0.0))).length
    val storeBytes = metricBytes(new java.io.File(store.root, "data"), hist.metric)
    store.close()
    val reopened = new TsdbEngine(ctx.spark, store.root)
    val durable = {
      val got = reopened.query(QueryParams(hist.metric)).collect().groupBy(r =>
        r.getAs[scala.collection.Map[String, String]]("tags")("host"))
      (0 until hist.nSeries).forall { s =>
        val exp = hist.expectRaw(s, Gen.T0, hist.endNs).map(_._2) ++
          (0 until acked(s).length()).filter(acked(s).get).map(pv(s, _))
        val rows = got.getOrElse(hist.host(s), Array.empty)
        val vals = rows.map(r => r.getAs[scala.collection.Map[String, org.apache.spark.sql.Row]]("fields")("value").getDouble(0))
        vals.length == exp.size && math.abs(vals.sum - exp.sum) < 1e-6
      }
    }

    // streaming ingest into the reopened store
    val src = ctx.spark.readStream.schema("value STRING").option("maxFilesPerTrigger", 1).text(streamDir)
    val s0 = System.nanoTime()
    val q = graft.streaming.Ingest.start(reopened, src, ctx.dir("ckpt"))
    q.processAllAvailable()
    val streamS = (System.nanoTime() - s0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val batchMs = progress.map(p => Option(p.durationMs.get("triggerExecution"))
      .map(_.doubleValue).getOrElse(0.0)).toSeq
    q.stop()
    val streamed = reopened.query(QueryParams("ingest.stream")).count()
    reopened.close()

    val lat = done.map(_.t.latencyMs).toSeq
    val readMs = reads.map(_._1).toSeq
    val wrongReads = reads.count(!_._3)
    val checks = reads.size + 2
    val wrong = wrongReads + (if (durable) 0 else 1) + (if (streamed == streamRows) 0 else 1)
    def dur(k: String) = Stats.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).toSeq)
    val spans = ctx.tracer.all.filter(_.startNs >= start)
    val (on, off) = done.partition(_.i % 2 == 0)
    val overheadMs = if (!ctx.traced) 0.0
      else Stats.median(on.map(_.t.latencyMs).toSeq) - Stats.median(off.map(_.t.latencyMs).toSeq)
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val afterCommit = reads.filter(_._2).map(_._1).toSeq
      Serving.layerMetrics(spans, Nil, Nil).filter(_._1.startsWith("tsdb.put_batch")) ++ Map(
        "tsdb.read_after_commit_ms" -> Stats.median(afterCommit),
        "tsdb.commits" -> commits.toDouble, "tsdb.write_stalls" -> stalls.toDouble,
        "tsdb.files_live" -> filesLive.toDouble, "tsdb.log_bytes" -> logBytes.toDouble,
        "tsdb.compact_s" -> compactS, "tsdb.compact_bytes_rewritten" -> rewritten.toDouble,
        "streaming.batches" -> progress.length.toDouble,
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"), "streaming.wal_commit_ms" -> dur("walCommit"),
        "harness.generator_lag_ms" -> Stats.quantile(done.map(_.t.generatorLagMs)
          .filterNot(_.isNaN).toSeq, 0.99))
    }
    PhaseOut(
      e2e = Map("stream_rows_per_s" -> streamRows / streamS),
      layers = layers,
      attempted = done.length + reads.size + readerErr.get + 1,
      failed = done.count(!_.ok) + readerErr.get + wrong, checked = checks,
      record = Map(
        "write_ack_p50_ms" -> Stats.median(lat), "write_ack_p99_ms" -> Stats.quantile(lat, 0.99),
        "write_rows_per_s" -> ackedRows / writeS, "write_batches" -> done.length,
        "read_p50_ms" -> Stats.median(readMs), "read_p99_ms" -> Stats.quantile(readMs, 0.99),
        "read_qps" -> reads.size / writeS, "reads" -> reads.size, "wrong_reads" -> wrongReads,
        "generator_lag_p99_ms" -> Stats.quantile(done.map(_.t.generatorLagMs)
          .filterNot(_.isNaN).toSeq, 0.99),
        "stream_rows_per_s" -> streamRows / streamS, "stream_batch_ms" -> batchMs,
        "stream_rows_per_s_after_first" -> (streamRows - StreamRowsPerFile) / (batchMs.drop(1).sum / 1e3),
        "stream_batches" -> progress.length,
        "bytes_per_user_byte" -> storeBytes.toDouble / userBytes,
        "store_bytes" -> storeBytes, "user_bytes" -> userBytes,
        "commits" -> commits, "compact_s" -> compactS, "durable_after_reopen" -> durable,
        "streamed_rows_seen" -> streamed, "trace_overhead_ms" -> overheadMs))
  }

  /** Bytes of the files under the store's `metric=<m>` partitions. */
  private def metricBytes(dir: java.io.File, metric: String): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.getName == s"metric=$metric") Main.dirBytes(f)
      else if (f.isDirectory) metricBytes(f, metric) else 0L
    }.sum

  /** A read of series `s` holds every row acked before it was sent, and
    * only rows that were written, with their values. */
  private def readOk(s: Int, got: Seq[Ans], must: BitSet): Boolean = {
    val hist0 = hist.expectRaw(s, readFrom, hist.endNs).toMap
    val byTs = got.map(a => a.ts -> a.nums.getOrElse("value", Double.NaN)).toMap
    val valid = byTs.forall { case (ts, v) =>
      val t = ((ts - Gen.T0) / hist.stepNs).toInt
      if (t < hist.nPoints) hist0.get(ts).contains(v) else v == pv(s, t)
    }
    var t = must.nextSetBit(0)
    var complete = true
    while (t >= 0 && complete) {
      complete = byTs.get(hist.ts(t)).contains(pv(s, t))
      t = must.nextSetBit(t + 1)
    }
    valid && complete && hist0.keys.forall(byTs.contains)
  }
}

object IngestLoad {
  val BatchRows = 100
  val BatchRate = 20.0
  /** Share of the run spent in the write phase. */
  val WriteShare = 0.7
  /** History points each read covers, besides the pushed ones. */
  val ReadBackPoints = 30
  val StreamFiles = 3
  val StreamRowsPerFile = 2000
}
