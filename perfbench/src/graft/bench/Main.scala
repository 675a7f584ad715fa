package graft.bench

import org.apache.spark.sql.SparkSession
import java.io.File
import java.lang.management.ManagementFactory

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val cpus: Int, val seed: Long,
    val seconds: Double, val tracer: Tracer, val probe: Option[SparkProbe],
    val runDir: String) {
  def traced: Boolean = tracer.enabled
  /** Fresh directory under the run directory. */
  def dir(name: String): String = {
    val d = new File(runDir, name)
    Main.deleteTree(d)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** What a measured workload reports. `e2e` holds the end-to-end metrics
  * other than `setup_s` and `heap_mb`, which the harness measures itself;
  * `layers` the per-layer metrics (traced run only); `failed` counts
  * failed requests plus wrong answers among `checked`. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, checked: Long, record: Map[String, Any],
    spans: Seq[Span] = Nil)

trait Workload {
  /** Build the inputs and the store in a fresh directory, start serving
    * and warm up. Runs several times; only the last set-up is measured. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Release what `setup` built (before the next set-up or at the end). */
  def teardown(): Unit
  /** Drive the load for `ctx.seconds`, then check the answers. */
  def measure(ctx: Ctx): Outcome
  /** Sizes of the generated inputs and the traffic dimensions. */
  def sizes: Map[String, Any]
}

object Main {
  val SetupReps = 3

  /** End-to-end metrics (name, unit), printed by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "spark_query_ms" -> "ms", "throughput_per_s" -> "1/s", "heap_mb" -> "MB")

  /** Per-layer metrics (name, unit), printed by every traced run; a layer
    * the workload does not exercise reports 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "server.wire_self_us" -> "us", "server.response_bytes" -> "B",
    "nbql.parse_us" -> "us", "nbql.exec_self_us" -> "us",
    "tsdb.serve_us.cache" -> "us", "tsdb.serve_us.local" -> "us",
    "tsdb.serve_us.local_rollup" -> "us", "tsdb.serve_ms.spark" -> "ms",
    "tsdb.tier_share.cache" -> "ratio", "tsdb.tier_share.local" -> "ratio",
    "tsdb.tier_share.local_rollup" -> "ratio", "tsdb.tier_share.spark" -> "ratio",
    "tsdb.cache_hit_ratio" -> "ratio", "tsdb.cache_lookups" -> "count",
    "tsdb.read_after_commit_ms" -> "ms",
    "tsdb.put_batch_ms.p50" -> "ms", "tsdb.put_batch_ms.p99" -> "ms",
    "tsdb.commits" -> "count", "tsdb.write_stalls" -> "count",
    "tsdb.files_live" -> "count", "tsdb.log_bytes" -> "B",
    "tsdb.compact_s" -> "s", "tsdb.compact_bytes_rewritten" -> "B",
    "tsdb.load_rows_per_s" -> "rows/s", "tsdb.rollup_build_s" -> "s",
    "plans.rows_scanned_per_row_returned" -> "ratio", "plans.files_scanned" -> "count") ++
    SparkProbe.counters.map { case (n, u) => s"tsdb.spark.$n" -> u } ++
    SparkProbe.counters.map { case (n, u) => s"pipeline.spark.$n" -> u } ++ Seq(
    "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "pipeline.stage_s.lang_quality" -> "s", "pipeline.stage_s.exact_dup" -> "s",
    "pipeline.stage_s.near_dup" -> "s", "pipeline.stage_s.decontam" -> "s",
    "pipeline.stage_s.ann_ivf" -> "s", "pipeline.near_dup_recall" -> "ratio",
    "functions.ns_per_row.split_words" -> "ns", "functions.ns_per_row.minhash_lanes" -> "ns",
    "functions.ns_per_row.gram_hashes" -> "ns", "functions.ns_per_row.simhash64" -> "ns",
    "functions.ns_per_row.vec_cosine" -> "ns",
    "harness.generator_lag_ms" -> "ms", "trace.overhead_ms" -> "ms",
    "trace.balance_err_us" -> "us", "trace.requests" -> "count")

  val workloads: Map[String, () => Workload] = Map(
    "tsdb" -> (() => new Tsdb),
    "pipeline" -> (() => new Pipeline))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
    conf(cpus, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The library's own serving session (as `graft.Bench` builds it),
    * with scratch and warehouse directories kept inside the checkout. */
  def conf(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath)

  /** Median ms of a fixed CPU loop on 1 thread and on `threads` threads at
    * once: a host-speed reading that says whether two records are
    * comparable. */
  def sentinels(threads: Int): (Double, Double) = {
    def loop(): Long = {
      var h = 1L; var i = 0
      while (i < 4000000) { h = Gen.mix(h + i); i += 1 }
      h
    }
    def timed(n: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until n).map(_ => new Thread(() => { loop(); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    loop()
    (Stats.median((0 until 5).map(_ => timed(1))),
      Stats.median((0 until 5).map(_ => timed(threads))))
  }

  /** Heap in use after forced collections, repeated until it settles:
    * Spark's context cleaner frees shuffle and broadcast state
    * asynchronously, after a collection has found it unreachable. */
  def liveHeapMb(): Double = {
    def used() = { System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 0
    while (math.abs(cur - prev) > 0.01 * prev && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  /** Exits the JVM on any failure: the engine's server and Spark keep
    * non-daemon threads that would otherwise hold it open. */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse("")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val cpus = arg(args, "--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = arg(args, "--work").getOrElse(".bench_build/work")
    val recordDir = arg(args, "--records").getOrElse(".bench_build/records")
    val rev = arg(args, "--rev").getOrElse("unknown")
    if (workload != "train" && !workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'"); sys.exit(2)
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val (sent1, sentN) = sentinels(cpus)

    val tracer = new Tracer(trace)
    val probe = if (trace) Some(new SparkProbe(spark, cpus)) else None
    val runDir = new File(work, s"$workload-$seed")
    deleteTree(runDir); runDir.mkdirs()
    val ctx = new Ctx(spark, cpus, seed, seconds, tracer, probe, runDir.getAbsolutePath)
    if (workload == "train") {
      // one set-up of every workload: the classes a run loads, for the
      // launcher's class-data-sharing archive
      workloads.values.foreach { mk =>
        val wl = mk()
        wl.setup(ctx, 0); wl.teardown()
      }
      spark.stop(); deleteTree(runDir)
      sys.exit(0)
    }
    val wl = workloads(workload)()

    val setups = (0 until SetupReps).map { rep =>
      if (rep > 0) wl.teardown()
      val t0 = System.nanoTime()
      wl.setup(ctx, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(setups)

    val out = wl.measure(ctx)
    val heapMb = liveHeapMb()
    wl.teardown()
    spark.stop()

    val e2e = Map("setup_s" -> setupS, "heap_mb" -> heapMb) ++ out.e2e
    val missing = endToEnd.map(_._1).filterNot(e2e.contains)
    require(missing.isEmpty, s"workload did not report ${missing.mkString(", ")}")
    val correct = out.failed == 0 && out.checked > 0
    val shown = if (trace) perLayer.map { case (n, u) => n -> (out.layers.getOrElse(n, 0.0), u) }
      else endToEnd.map { case (n, u) => n -> (e2e(n), u) }

    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "seconds" -> seconds,
      "trace" -> trace, "git_rev" -> rev,
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "checked" -> out.checked,
      "error_rate" -> out.failed.toDouble / math.max(1L, out.attempted + out.checked),
      "end_to_end" -> endToEnd.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }.toMap,
      "per_layer" -> (if (trace) perLayer.map { case (n, u) =>
        n -> Map("value" -> out.layers.getOrElse(n, 0.0), "unit" -> u) }.toMap else Map.empty),
      "setup" -> Map("session_s" -> sessionS, "store_setups_s" -> setups),
      "sizes" -> wl.sizes,
      "spark_conf" -> (conf(cpus, work).toMap + ("master" -> s"local[$cpus]")),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "host_sentinel_ms" -> Map("threads_1" -> sent1, s"threads_$cpus" -> sentN),
      "detail" -> out.record,
      "spans" -> out.spans.take(4000).map(s => Seq(s.id, s.name, s.startNs, s.endNs,
        s.parent, s.req)))
    new File(recordDir).mkdirs()
    val recFile = new File(recordDir, s"$workload-c$cpus-s$seed-t${if (trace) 1 else 0}.json")
    val w = new java.io.PrintWriter(recFile, "UTF-8")
    try w.println(Json(record)) finally w.close()
    deleteTree(runDir)

    println(Json(scala.collection.mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.mutable.LinkedHashMap(shown.map { case (n, (v, u)) =>
        n -> scala.collection.mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
    sys.exit(0)
  }
}
