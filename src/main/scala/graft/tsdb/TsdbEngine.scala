package graft.tsdb

import graft.hooks.{EventType, HookEvent, HookManager, HookVetoException, Listeners, Payloads}
import graft.model.DataPoint
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.JavaConverters._

/** Transactional parquet storage engine with the reference's observable
  * semantics (SURVEY §1, §2.1, §2.3), built on a [[TxLog]] commit log:
  *
  *  - `put*` stages parquet files partitioned by `metric` + `date`, moves
  *    them into the data root under unique names, and commits — a crash
  *    anywhere before the commit leaves NOTHING visible (the reference's
  *    WAL gives the same no-torn-reads guarantee, `wal/wal.go:53-60`);
  *  - streaming ingest is EXACTLY-ONCE: each micro-batch commits with an
  *    (app, batchId) watermark and replays are skipped
  *    (cf. `engine2/engine_recovery_test.go`'s replay-dedup);
  *  - deletes are tombstones recorded IN THE LOG (M2-M4) with the
  *    sequence-shadowing rule — a point written after a delete survives;
  *    they never round-trip through a side table or a per-query collect;
  *  - `compact()` is the LSM-compaction/OPTIMIZE analog
  *    (`engine2/compaction_manager.go`): rewrite keeping winning
  *    versions, drop tombstoned rows, swap the file set in one commit,
  *    clear tombstones, vacuum unreferenced files;
  *  - `snapshot`/`restore` (S7) are INCREMENTAL — data files are
  *    content-addressed by unique name, so a snapshot copies only files
  *    the destination lacks (`snapshot/manager.go:225` does the same
  *    with SSTable hard links); `readAt(version)` gives time travel.
  *
  * Storage layout: `data/metric=<m>/date=<yyyy-MM-dd>/<commit>-<part>.parquet`
  * — a metric+time query prunes at the DIRECTORY level before any footer
  * is read (the file-level analog of the reference's tag index +
  * SSTable key ranges), and no metric directory grows unboundedly.
  *
  * Writes here are driver-mediated (Seq[DataPoint] → small parquet
  * appends); the high-volume path is [[graft.streaming.Ingest]], which
  * streams a DataFrame into the same layout through the same log.
  */
class TsdbEngine(val spark: SparkSession, val rootDir: String) {
  import TsdbEngine._

  private val dataDir = s"$rootDir/data"
  private val log = new TxLog(s"$rootDir/_log")

  @volatile private var snap: LogSnapshot = log.replay()
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(snap.maxSeq)
  private val resultCache = new QueryCache()

  /** User-pluggable event bus (the reference's hook system,
    * `hooks/hooks.go:23-57`): register listeners on Pre/Post
    * Put/Delete/Compaction/Snapshot/Query events and `OnSeriesCreate`.
    * Pre listeners run sync in priority order and can veto or rewrite the
    * payload; Post listeners observe (sync inline or async on a pool).
    * The write-amplification accounting ships as a default-registered
    * PostCompaction listener — a deployment extends the engine the same
    * way, by registering, not by editing graft code. */
  val hooks = new HookManager
  private val wafListener = new Listeners.WriteAmplificationListener
  hooks.register(EventType.PostCompaction, wafListener)

  /** Data-file compression codec — the engine-level analog of the
    * reference's `engine.sstable.compression` option
    * (`configs/config-docker-leader.yaml:21`, `compressors/`: none,
    * snappy, lz4, zstd). Applied to every parquet data/rollup write;
    * files already on disk keep the codec they were written with until
    * compaction rewrites them (exactly the reference's block-level
    * contract — readers detect the codec per file/block). At 100 TB the
    * snappy→zstd choice is the classic scan-speed-vs-footprint knob;
    * snappy is the default like the reference's. */
  @volatile private var compressionCodec: String = "snappy"
  def compression: String = compressionCodec

  /** The session's configured shuffle width, read per write (the conf is
    * mutable) — the EXPLICIT numPartitions for staged clustered writes,
    * where a bare keyed repartition would let AQE coalesce a small batch
    * to one task and serialize every partition directory's writer. */
  private def shufflePartitions: Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt
  def setCompression(codec: String): Unit = {
    val norm = codec.toLowerCase match {
      case "none" => "uncompressed"
      case c => c
    }
    require(TsdbEngine.Codecs.contains(norm),
      s"unsupported compression '$codec' (none, snappy, lz4, zstd, gzip)")
    compressionCodec = norm
  }

  /** Series keys first-seen by this instance's driver-mediated puts —
    * feeds `OnSeriesCreate` (tracked only while a listener is registered;
    * the reference's in-memory series index gives its hook the same
    * "first time this process creates the key" semantics). */
  private val seenSeries = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def firePost(tpe: String, payload: AnyRef): Unit =
    if (hooks.hasListeners(tpe)) hooks.trigger(HookEvent(tpe, payload))

  /** Commit landed: refresh the snapshot, maybe checkpoint the log,
    * then announce the new manifest version (the reference's
    * WAL/manifest post-write event). */
  private def committed(): Unit = {
    heartbeat()
    refresh()
    maybeCheckpoint()
    firePost(EventType.PostManifestWrite, Payloads.PostManifestWrite(snap.version))
  }

  // ---- writer lease (heartbeat) ------------------------------------------

  /** Writer-liveness TTL: a `_writer.<id>` heartbeat older than this is
    * a dead writer's residue (GC'd when seen). [[restore]] — the one
    * non-transactional root swap — refuses while a FOREIGN heartbeat is
    * fresher, making the "restore must not race live writers" contract
    * structural instead of documentation (VERDICT r15 #7). Ordinary
    * concurrent WRITERS stay supported: commits are CAS-published
    * through the log, and shared-root followers open without any lease
    * — so opens are not exclusive by design (the reference's
    * replication model, S12–S17); only the destructive admin op checks
    * liveness. */
  @volatile var writerLeaseTtlMs: Long = 30000L

  /** This instance's identity in heartbeat files. */
  private val instanceId = java.util.UUID.randomUUID().toString

  @volatile private var lastHeartbeatMs = 0L

  private def writerHeartbeatFile: Path =
    Paths.get(s"$rootDir/_log/_writer.$instanceId")

  /** Refresh this writer's heartbeat, throttled to TTL/4 (one mtime
    * touch, never per-commit I/O at ingest rates). Advisory: an I/O
    * failure here must never fail a commit that already landed. */
  private def heartbeat(): Unit = {
    val now = System.currentTimeMillis()
    if (now - lastHeartbeatMs >= math.max(1L, writerLeaseTtlMs / 4)) {
      lastHeartbeatMs = now
      try {
        val f = writerHeartbeatFile
        if (Files.exists(f))
          Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(now))
        else {
          Files.createDirectories(f.getParent)
          Files.writeString(f, instanceId)
        }
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Foreign writers with a live heartbeat on this root. Stale
    * heartbeats (dead writers) are GC'd as they are seen. */
  private[graft] def liveForeignWriters(): Seq[String] = {
    val logDir = Paths.get(s"$rootDir/_log")
    if (!Files.isDirectory(logDir)) return Nil
    val cutoff = System.currentTimeMillis() - writerLeaseTtlMs
    val s = Files.list(logDir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("_writer."))
      .filterNot(_.getFileName.toString == s"_writer.$instanceId")
      .flatMap { p =>
        val fresh =
          try Files.getLastModifiedTime(p).toMillis >= cutoff
          catch { case _: java.io.IOException => false }
        if (fresh) Some(p.getFileName.toString.stripPrefix("_writer."))
        else { try Files.deleteIfExists(p) catch {
          case _: java.io.IOException => () }; None }
      }.toList
    finally s.close()
  }

  /** Commits between log CHECKPOINTS (0 disables). Every Nth commit
    * materializes the full [[LogSnapshot]] as a checkpoint manifest and
    * vacuums pre-checkpoint commit JSONs (with their dead inline blobs)
    * under the write-path grace discipline — bounding restart replay,
    * follower catch-up and the log directory itself to O(N + grace
    * window) instead of O(total commits ever). The reference bounds its
    * log the same way: WAL segments rotate at 4 MiB and old segments
    * are deleted after flush (`wal/wal.go:53-60`; `keep` knob,
    * `cmd/server/config.yaml:46-53`), and the levels manifest is
    * rewritten, not replayed from genesis
    * (`engine2/levels_manifest.go`). */
  @volatile var checkpointInterval: Int = 64

  /** Single-flight for checkpoint writes: every committer calls
    * [[maybeCheckpoint]], and under concurrent wire ingest several
    * threads cross the interval together — one pays the checkpoint,
    * the rest skip (the next commit re-checks). */
  private val ckptLock = new java.util.concurrent.locks.ReentrantLock()

  private def maybeCheckpoint(): Unit = {
    if (checkpointInterval <= 0) return
    if (!ckptLock.tryLock()) return
    try {
      val s = snap
      if (s.version > 0 &&
          log.commitsSinceCheckpoint(s.version) >= checkpointInterval) {
        log.writeCheckpoint(s)
        log.truncate(math.max(vacuumGraceMs, foldVacuumGraceMs))
      }
    } finally ckptLock.unlock()
  }

  def version: Long = snap.version
  /** Log version of the last commit touching `metric` — the cache epoch:
    * writes to metric A never evict cached queries on metric B. */
  def metricEpoch(metric: String): Long = snap.metricEpoch.getOrElse(metric, 0L)
  def cacheStats: (Long, Long) = resultCache.stats

  private def refresh(): Unit = synchronized {
    snap = log.replay(snap)
    // a follower that picked up foreign commits must never mint a seq at
    // or below the observed high-water mark (matters on writer promotion)
    seqCounter.updateAndGet(cur => math.max(cur, snap.maxSeq))
  }

  /** Pick up commits made by OTHER engine instances on the same root.
    * This is the replication story (reference `replication/`): the commit
    * log over shared storage IS the WAL shipped to followers — a replica
    * is just another `TsdbEngine` on the same directory calling `sync()`,
    * and it observes each commit atomically (never a torn file set),
    * because readers only see manifest-listed files. Returns the version
    * now visible. */
  def sync(): Long = { refresh(); version }

  def nextSeq(): Long = seqCounter.incrementAndGet()

  /** Reserve a block of sequence space for a streaming micro-batch: every
    * row gets `base + monotonically_increasing_id()`. m_i_i is
    * (partitionId << 33) + rowInPartition, so a 2^45 block keeps ids of
    * batches disjoint for up to 4096 partitions/8G rows per batch while
    * leaving room for 2^18 batches — later batches always carry higher
    * seqs, preserving latest-version-wins across restarts. */
  def reserveSeqBlock(): Long = seqCounter.getAndAdd(1L << 45)

  // ---- write path -------------------------------------------------------

  /** Validate + append a batch (one commit per batch — the analog of
    * PutBatch, `engine2/adapter.go:635`). `PrePutBatch` listeners run
    * first and may rewrite/drop points or veto the whole batch
    * (`hooks.go:136-141`); `PostPutBatch` observes the outcome. */
  def putBatch(points: Seq[DataPoint]): Either[String, Long] = {
    var pts = points
    if (hooks.hasListeners(EventType.PrePutBatch)) {
      val pay = new Payloads.PrePutBatch(pts)
      hooks.trigger(HookEvent(EventType.PrePutBatch, pay)) match {
        case Left(err) => return Left(err)
        case Right(()) => pts = pay.points
      }
    }
    val r = appendPoints(pts)
    firePost(EventType.PostPutBatch, Payloads.PostPutBatch(pts, r.left.toOption))
    r
  }

  /** Single-point put with the single-point hook pair (`hooks.go:106-110`):
    * a `PrePutDataPoint` listener may rewrite the point or veto it. */
  def put(p: DataPoint): Either[String, Long] = {
    var pt = p
    if (hooks.hasListeners(EventType.PrePutDataPoint)) {
      val pay = new Payloads.PrePutDataPoint(pt)
      hooks.trigger(HookEvent(EventType.PrePutDataPoint, pay)) match {
        case Left(err) => return Left(err)
        case Right(()) => pt = pay.point
      }
    }
    val r = appendPoints(Seq(pt))
    firePost(EventType.PostPutDataPoint, Payloads.PostPutDataPoint(pt, r.left.toOption))
    r
  }

  /** Driver-originated commits kept as rows for job-free subscription
    * delivery (S8): the reference publishes each Put in-memory
    * (`engine2/pubsub.go:105-126`); reading a small commit's parquet
    * back through a Spark plan costs a per-commit job (~20 ms class —
    * the same tax SCALE.md r13 measured on the query path). Bounded by
    * commit count and per-batch size; anything evicted or oversized
    * falls back to [[commitChanges]]' parquet read. */
  private val recentPuts =
    new java.util.concurrent.ConcurrentSkipListMap[Long, (Seq[(DataPoint, Long)], Long)]()
  @volatile private[graft] var recentPutsMaxCommits = 256 // test hook
  /** Batches above this row count are not retained (a bulk backfill's
    * rows shouldn't live twice in driver memory); test hook. */
  @volatile private[graft] var recentPutsMaxBatch: Int = 10000
  /** TOTAL driver-heap budget for the retained ring, in estimated bytes
    * — the commit-count bound alone admits a ~2.5M-point worst case
    * (256 commits × 10k rows); the byte bound keeps the ring's footprint
    * fixed regardless of row shape. Estimated per point from its string/
    * map sizes at retain time, never re-walked. */
  @volatile private[graft] var recentPutsMaxBytes: Long = 64L << 20
  private val recentPutsBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Current estimated heap held by the retained ring (test seam). */
  private[graft] def recentPutsRetainedBytes: Long = recentPutsBytes.get()

  /** Ground-truth byte sum over the ring's live entries (test seam —
    * specs pin the running counter exact against it at quiescence). */
  private[graft] def recentPutsExactBytes: Long = {
    var n = 0L
    recentPuts.values().forEach(v => n += v._2)
    n
  }

  /** Rough driver-heap estimate of one retained point: JVM object
    * headers/boxing flat cost plus 2 bytes per string char (UTF-16). */
  private def pointBytes(p: DataPoint): Long = {
    var n = 96L + 2L * p.metric.length
    p.tags.foreach { case (k, v) => n += 80L + 2L * (k.length + v.length) }
    p.fields.foreach { case (k, v) =>
      n += 96L + 2L * k.length + v.s.fold(0L)(s => 2L * s.length) }
    n
  }

  /** The retained rows of a driver-originated append commit, seq-stamped
    * — `Some` means the commit is EXACTLY these puts (no tombstones, no
    * removes); `None` means read it back via [[commitChanges]]. */
  def commitChangesLocal(version: Long): Option[Seq[(DataPoint, Long)]] =
    Option(recentPuts.get(version)).map(_._1)

  private def appendPoints(points: Seq[DataPoint]): Either[String, Long] = {
    if (points.isEmpty) return Right(0L) // ack, no commit
    val bad = points.iterator.map(DataPoint.validate).collectFirst {
      case Left(err) => err }
    if (bad.isDefined) return Left(bad.get)
    import spark.implicits._
    val rows = points.map { p =>
      StoredPoint(p.metric, p.tags, p.timestamp,
        p.fields.map { case (k, v) => k -> StoredValue(v.d, v.l, v.s, v.b) },
        nextSeq())
    }
    val committedVersion =
      if (points.size <= inlineMaxRows && points.forall(InlineRows.encodable)) {
        // WAL shape for the wire PUSH/PUSHS path: the rows ride INSIDE
        // the commit manifest — durable at the rename, NO Spark job, no
        // data file. A serial putBatch of 500 rows paid ~330 ms of
        // plan+job submission for a one-task parquet write (ProbeC10Ingest,
        // SCALE.md r13); the inline commit pays serialization only.
        // compactInline() folds accumulated blobs into the clustered
        // layout, like the reference's memtable flush (`wal/wal.go`).
        commitInline(points.lazyZip(rows).map((p, r) => (p, r.seq)).toSeq)
      } else {
        // big/odd batches: staged clustered write. Size the shuffle to
        // the batch's actual (metric, day) spread — a backfill spanning
        // many days fans out (see commitAppend's AQE note)
        val dirs = points.iterator
          .map(p => (p.metric, Math.floorDiv(p.timestamp, TsdbEngine.DayNs)))
          .toSet.size
        commitAppend(rows.toDF(), txn = None, dirHint = Some(dirs))
      }
    if (committedVersion > 0 && points.size <= recentPutsMaxBatch) {
      val bytes = points.iterator.map(pointBytes).sum
      recentPuts.put(committedVersion,
        (points.lazyZip(rows).map((p, r) => (p, r.seq)).toSeq, bytes))
      recentPutsBytes.addAndGet(bytes)
      // eviction only ever SUBTRACTS per polled entry — a hard counter
      // reset here would race a concurrent appendPoints that just
      // addAndGet'ed bytes for an entry it is about to insert,
      // permanently under-counting and silently disabling the byte
      // budget. The counter is exact (every insert adds, every poll
      // subtracts), so an empty ring simply ends the drain.
      var draining = true
      while (draining && (recentPuts.size() > recentPutsMaxCommits ||
          recentPutsBytes.get() > recentPutsMaxBytes)) {
        val e = recentPuts.pollFirstEntry()
        if (e == null) draining = false
        else recentPutsBytes.addAndGet(-e.getValue._2)
      }
    }
    if (hooks.hasListeners(EventType.OnSeriesCreate))
      points.foreach { p =>
        val key = SeriesKey.of(p.metric, p.tags)
        if (seenSeries.add(key))
          hooks.trigger(HookEvent(EventType.OnSeriesCreate, Payloads.OnSeriesCreate(key)))
      }
    Right(rows.size.toLong)
  }

  /** Append an arbitrary DataFrame already in canonical shape
    * (metric, tags, timestamp, fields, seq) — the bulk/streaming path.
    * `txn = Some((app, batchId))` makes the append IDEMPOTENT: a replayed
    * micro-batch (streaming checkpoint re-delivery after a crash) is
    * recognized by its watermark and skipped — exactly-once end to end. */
  def putDF(df: DataFrame, txn: Option[(String, Long)] = None): Unit = {
    commitAppend(df, txn); ()
  }

  /** Stage → move-in → commit. The staged write clusters rows by their
    * partition values so each (metric, date) directory receives ONE file
    * per batch instead of one per (shuffle partition × metric) — fewer,
    * bigger parquet files, the healthier layout on both ends. Files are
    * invisible to readers until the log commit lands. */
  /** Cumulative wall-clock of [[commitAppend]]'s stages since engine
    * construction (ns): staging write (runs the upstream plan — parse/
    * validate ride here), file move-in, log commit + cache invalidation.
    * Three clock reads per append; exists so ingest throughput is
    * attributable to a stage instead of guessed at (SCALE.md r13). */
  val appendStageNs = new java.util.concurrent.atomic.AtomicLongArray(3)

  /** Returns the committed log version, or -1 when an idempotent replay
    * was dropped. */
  private def commitAppend(df: DataFrame, txn: Option[(String, Long)],
      dirHint: Option[Int] = None): Long = {
    txn.foreach { case (app, batch) =>
      if (snap.txnSeen(app, batch)) return -1L // replayed micro-batch — drop it
    }
    val stamp = java.util.UUID.randomUUID().toString.take(12)
    val staging = s"$rootDir/_staging/$stamp"
    val t0 = System.nanoTime()
    val dated = df.withColumn("date", dateOfTs(col("timestamp")))
    // Streaming micro-batches (txn commits) land as LEVEL-0 files:
    // unpartitioned parquet with metric/date as COLUMNS, one file per
    // input partition, NO exchange. The hive-clustered write was the
    // measured 60-90% of streaming ingest even at explicit width — a
    // micro-batch spread over ~150 (metric, date) directories pays ~150
    // parquet writers + commits per batch (SCALE.md r13); the L0 write
    // pays |input partitions|. The commit records the batch's metric and
    // date sets (one Observation — rides the write job, zero extra
    // passes) so epoch invalidation, per-metric file selection and
    // touched-date derivation stay exact at the commit level; compactL0
    // migrates L0 into the hive layout once enough accumulates — the
    // LSM memtable-flush shape (reference `engine2/levels_manifest.go`).
    val l0Meta: Option[(Seq[String], Seq[String])] =
      if (txn.isDefined) {
        val obs = org.apache.spark.sql.Observation()
        dated.observe(obs, collect_set(col("metric")).as("metrics"),
            collect_set(col("date")).as("dates"))
          .write.option("compression", compressionCodec)
          .parquet(s"$staging/l0")
        def strs(a: Any): Seq[String] =
          a.asInstanceOf[scala.collection.Seq[String]].toSeq
        val observed = obs.get
        Some((strs(observed("metrics")), strs(observed("dates"))))
      } else {
        // EXPLICIT partition count: a bare keyed repartition lets AQE
        // coalesce a small batch to ONE shuffle partition, serializing
        // every (metric, date) directory's writer into a single task
        // (~20 ms/dir — measured, SCALE.md r13). The explicit count pins
        // write parallelism while keeping one file per directory (each
        // key still hashes to exactly one partition). dirHint
        // (driver-side putBatch): cap the width at the batch's distinct
        // (metric, date) count — extra shuffle partitions past the dir
        // count can only hold empty writers
        val width = math.max(1, math.min(shufflePartitions,
          dirHint.getOrElse(shufflePartitions)))
        dated.repartition(width, col("metric"), col("date"))
          .write.option("compression", compressionCodec)
          .partitionBy("metric", "date").parquet(staging)
        None
      }
    val t1 = System.nanoTime()
    val added = moveStaged(Paths.get(staging), stamp)
    deleteDir(Paths.get(staging))
    val t2 = System.nanoTime()
    val hwm = seqCounter.get()
    val landed = log.commit(v => LogCommit(v, adds = added,
      metrics = l0Meta.map(_._1).getOrElse(metricsOf(added)),
      dates = l0Meta.map(_._2).getOrElse(Nil),
      txnApp = txn.map(_._1), txnBatch = txn.map(_._2), maxSeq = hwm))
    committed()
    val t3 = System.nanoTime()
    appendStageNs.addAndGet(0, t1 - t0)
    appendStageNs.addAndGet(1, t2 - t1)
    appendStageNs.addAndGet(2, t3 - t2)
    if (l0Meta.isDefined &&
        snap.files.count(TxLog.isL0) > l0CompactThreshold) {
      if (snap.files.count(TxLog.isL0) >= l0StallThreshold) {
        // L0 write stall — see inlineStallThreshold
        stallCounter.incrementAndGet()
        foldLock.lock()
        try { if (snap.files.count(TxLog.isL0) > l0CompactThreshold)
          compactL0Impl(writePath = true) }
        finally foldLock.unlock()
      } else foldOnce(compactL0Impl(writePath = true))
    }
    landed.version
  }

  /** L0 file count past which [[commitAppend]] folds level 0 into the
    * hive layout inline ([[compactL0]]). Bounds read amplification the
    * way an LSM bounds level-0 tables: queries between compactions union
    * at most this many unpartitioned files over the clustered layout. */
  @volatile var l0CompactThreshold: Int = 48

  /** (live data files, of which level-0) — operator visibility into L0
    * buildup (`/metrics` exposes both; [[compactL0]] bounds the second). */
  def fileCounts: (Int, Int) = {
    val fs = snap.files
    (fs.size, fs.count(TxLog.isL0))
  }

  /** Live inline (in-manifest) commits not yet folded into files. */
  def inlineCommitCount: Int = snap.inline.size

  /** Data-root-relative paths of the live data files (test seam). */
  private[graft] def liveFilePaths: Set[String] = snap.files.toSet

  /** (newest checkpoint version or 0, commit manifests currently on
    * disk) — the log-bounding health pair `/metrics` exposes: the
    * manifest count staying O(interval + grace-window commits) is the
    * observable proof truncation is keeping up. */
  def logStats: (Long, Int) =
    (log.latestCheckpoint().getOrElse(0L), log.availableCommitVersions().size)

  /** Times a committing writer hit the write-stall ceiling and blocked
    * for an in-flight fold ([[inlineStallThreshold]] /
    * [[l0StallThreshold]]) — sustained growth means ingest is
    * chronically outrunning fold capacity. */
  private val stallCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def writeStallCount: Long = stallCounter.get()

  /** Max rows a driver-side batch may have to commit INLINE in the log
    * manifest instead of through a staged parquet write ([[InlineRows]]).
    * Bounds one manifest's size (~64 B/row) and [[compactInline]]'s
    * driver decode. */
  @volatile var inlineMaxRows: Int = 5000

  /** Live inline-commit count past which [[appendPoints]] folds them
    * into the clustered layout inline — the memtable-flush trigger. */
  @volatile var inlineCompactThreshold: Int = 64

  /** HARD ceiling on live inline commits — the write-stall threshold
    * (an LSM's L0 stall): past it, a committing writer BLOCKS on the
    * fold lock instead of skipping the fold. Without it, sustained
    * multi-writer ingest outruns the single-flighted fold — the r14
    * backpressure probe measured inline commits drifting to 1600+
    * (25× the threshold) with every-64th-commit checkpoints then
    * serializing ~50 MB of live blobs, collapsing ingest 98k → 25k
    * rows/s. With the stall, reads stay bounded at O(stall × batch)
    * inline rows and checkpoints stay small; writers resume the moment
    * the fold lands. */
  @volatile var inlineStallThreshold: Int = 256

  /** The L0 twin of [[inlineStallThreshold]]: concurrent txn/streaming
    * writers past this many live L0 files block on the fold. */
  @volatile var l0StallThreshold: Int = 192

  /** Single-flight guard for the folds ([[compactInline]], [[compactL0]])
    * — held INSIDE the public methods, so every entry point (threshold
    * trigger, admin call, NBQL FLUSH) is single-flighted: concurrent wire
    * writers crossing the threshold together must produce ONE fold, and
    * an explicit admin fold racing a threshold-triggered one must not
    * fold the same inline versions twice (overlap is merge-masked —
    * duplicates collapse in the seq dedup — but double-counts raw
    * loadPoints()/count-based integrity checks and multiplies fold
    * work). Reentrant: compactInline's spill into compactL0 re-enters.
    * [[compact]] takes the lock BLOCKING — an admin full compaction
    * waits for an in-flight fold instead of skipping. */
  private val foldLock = new java.util.concurrent.locks.ReentrantLock()

  private def foldOnce(f: => Unit): Unit =
    if (foldLock.tryLock())
      try f finally foldLock.unlock()

  /** Grace window applied to the vacuum that runs after a WRITE-PATH
    * triggered fold (threshold [[compactL0]]/[[compactInline]] during
    * streaming or wire ingest): the folded-away files stay on disk this
    * long so a concurrent query executing a plan resolved against the
    * prior snapshot never hits FileNotFound mid-ingest. Explicit admin
    * [[compact]]/[[vacuum]] calls keep using [[vacuumGraceMs]] (default
    * 0 — immediate), preserving their historical semantics; disk held by
    * the grace is bounded by the window × fold rate, and the files are
    * the small L0/inline ones. */
  @volatile var foldVacuumGraceMs: Long = 600000L

  /** WAL-style commit: the rows ride in the manifest itself. */
  private def commitInline(pts: Seq[(DataPoint, Long)]): Long = {
    val blob = InlineRows.encode(pts)
    val metrics = pts.map(_._1.metric).distinct
    val dates = pts.map(p => dayStr(p._1.timestamp)).distinct
    val hwm = seqCounter.get()
    val landed = log.commit(v => LogCommit(v, inline = Some(blob),
      metrics = metrics, dates = dates, maxSeq = hwm))
    committed()
    if (snap.inline.size > inlineCompactThreshold) {
      if (snap.inline.size >= inlineStallThreshold) {
        // write-stall backpressure: over the hard ceiling, WAIT for the
        // in-flight fold (then fold the backlog if still over) instead
        // of skipping — see inlineStallThreshold
        stallCounter.incrementAndGet()
        foldLock.lock()
        try { if (snap.inline.size > inlineCompactThreshold)
          compactInlineImpl(writePath = true) }
        finally foldLock.unlock()
      } else foldOnce(compactInlineImpl(writePath = true))
    }
    landed.version
  }

  /** Decode a snapshot's live inline commits into one canonical frame
    * (tags, timestamp, fields, seq, metric, date) — the LocalRelation
    * leg of the read union. Bounded: at most
    * [[inlineCompactThreshold]] × [[inlineMaxRows]] rows exist at once. */
  private def inlineDF(s: LogSnapshot): Option[DataFrame] =
    if (s.inline.isEmpty) None
    else {
      val rows = s.inline.flatMap(ic => InlineRows.decode(ic.blob)).map {
        case (p, seq) => StoredPoint(p.metric, p.tags, p.timestamp,
          p.fields.map { case (k, v) => k -> StoredValue(v.d, v.l, v.s, v.b) },
          seq)
      }
      Some(spark.createDataFrame(rows)
        .withColumn("date", dateOfTs(col("timestamp")))
        .select(Seq("tags", "timestamp", "fields", "seq", "metric", "date")
          .map(col): _*))
    }

  /** Fold every live inline commit into ONE level-0 file, committed
    * atomically with `clearInline` (replayers see either blobs or the
    * file, never both or neither) — the memtable flush, landing at L0
    * like an LSM's: inline (WAL) → L0 (flush) → hive (compaction). The
    * flush write is a single unpartitioned file — clustering into the
    * (metric, date) layout is [[compactL0]]'s amortized job; flushing
    * straight to hive paid a clustered write every
    * [[inlineCompactThreshold]] commits and throttled sustained wire
    * ingest ~4× (SCALE.md r13 reference-protocol run). Bounded by the
    * inline budget. Single-flighted via [[foldOnce]] — a call racing an
    * in-flight fold returns without folding. */
  def compactInline(): Unit = foldOnce(compactInlineImpl(writePath = false))

  private def compactInlineImpl(writePath: Boolean): Unit = {
    val s = snap
    if (s.inline.isEmpty) return
    import spark.implicits._
    val rows = s.inline.flatMap(ic => InlineRows.decode(ic.blob)).map {
      case (p, seq) => StoredPoint(p.metric, p.tags, p.timestamp,
        p.fields.map { case (k, v) => k -> StoredValue(v.d, v.l, v.s, v.b) },
        seq)
    }
    val stamp = java.util.UUID.randomUUID().toString.take(12)
    val staging = s"$rootDir/_staging/$stamp"
    rows.toDF().withColumn("date", dateOfTs(col("timestamp")))
      .coalesce(1)
      .write.option("compression", compressionCodec)
      .parquet(s"$staging/l0")
    val added = moveStaged(Paths.get(staging), stamp)
    deleteDir(Paths.get(staging))
    val hwm = seqCounter.get()
    // fold the EXACT versions read from the snapshot, never a blunt
    // clear: an inline commit racing in between stays live (its rows
    // were not in this fold)
    log.commit(v => LogCommit(v, adds = added,
      foldedInline = s.inline.map(_.version),
      metrics = s.inline.flatMap(_.metrics).distinct,
      dates = s.inline.flatMap(_.dates).distinct, maxSeq = hwm))
    committed()
    if (snap.files.count(TxLog.isL0) > l0CompactThreshold)
      compactL0Impl(writePath)
  }

  /** Migrate every LEVEL-0 file into the hive-partitioned layout: read
    * ONLY level 0, rewrite clustered by (metric, date), commit
    * adds+removes atomically, vacuum the dead files. Row content is
    * untouched (no merge, no tombstone application — those stay
    * read-time semantics); only the LAYOUT moves, restoring partition
    * pruning for the migrated rows. Bounded by level-0 size, never the
    * table's — the LSM L0→L1 step, vs [[compact]]'s full rewrite.
    * A PreCompaction veto skips the migration (level 0 keeps serving;
    * ingest must not fail on a vetoed optimization). Single-flighted via
    * [[foldOnce]]. */
  def compactL0(): Unit = foldOnce(compactL0Impl(writePath = false))

  private def compactL0Impl(writePath: Boolean): Unit = {
    if (hooks.hasListeners(EventType.PreCompaction))
      hooks.trigger(HookEvent(EventType.PreCompaction, Payloads.PreCompaction())) match {
        case Left(_) => return
        case Right(()) => ()
      }
    val s = snap
    val l0 = s.files.filter(TxLog.isL0)
    if (l0.isEmpty) return
    val pts = readFiles(l0).getOrElse(return)
    val stamp = java.util.UUID.randomUUID().toString.take(12)
    val staging = s"$rootDir/_staging/$stamp"
    pts.repartition(shufflePartitions, col("metric"), col("date"))
      .write.option("compression", compressionCodec)
      .partitionBy("metric", "date").parquet(staging)
    val added = moveStaged(Paths.get(staging), stamp)
    deleteDir(Paths.get(staging))
    val l0Metrics = l0.flatMap(f => s.l0Keys.get(f).fold(Seq.empty[String])(_._1))
    val l0Dates = l0.flatMap(f => s.l0Keys.get(f).fold(Seq.empty[String])(_._2))
    val bytesRead = bytesOf(l0)
    val bytesWritten = bytesOf(added)
    val hwm = seqCounter.get()
    log.commit(v => LogCommit(v, adds = added, removes = l0,
      metrics = (metricsOf(added) ++ l0Metrics).distinct,
      dates = l0Dates.distinct, maxSeq = hwm))
    recordDerefs(l0)
    committed()
    firePost(EventType.PostCompaction,
      Payloads.PostCompaction(l0, added, bytesRead, bytesWritten))
    // write-path folds vacuum from the dereference LEDGER under a grace
    // window (concurrent queries may hold plans resolved against the
    // pre-fold snapshot) — O(files this engine folded away), never a
    // data-root walk; explicit admin folds keep the full-sweep
    // immediate-vacuum default
    if (writePath) vacuumDerefs(math.max(vacuumGraceMs, foldVacuumGraceMs))
    else vacuum()
  }

  /** Move staged parquet files into the data root, preserving their
    * metric=/date= partition subpaths, under commit-unique names. */
  private def moveStaged(staging: Path, stamp: String): Seq[String] = {
    if (!Files.isDirectory(staging)) return Nil
    Files.walk(staging).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
      .map { src =>
        val rel = staging.relativize(src)
        val destRel = s"${rel.getParent}/$stamp-${src.getFileName}"
        val dest = Paths.get(dataDir).resolve(destRel)
        Files.createDirectories(dest.getParent)
        Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
        destRel
      }
  }

  // ---- delete path (logical deletes in the log) --------------------------

  /** Pre hooks may rewrite the target or veto (`Left`); Post hooks
    * observe the landed tombstone (`hooks.go:23-36` delete events). */
  def deletePoint(metric: String, tags: Map[String, String], tsNs: Long): Either[String, Unit] = {
    var (m, tg, ts) = (metric, tags, tsNs)
    if (hooks.hasListeners(EventType.PreDeletePoint)) {
      val pay = new Payloads.PreDeletePoint(m, tg, ts)
      hooks.trigger(HookEvent(EventType.PreDeletePoint, pay)) match {
        case Left(err) => return Left(err)
        case Right(()) => m = pay.metric; tg = pay.tags; ts = pay.timestampNs
      }
    }
    commitTombstone(TombRow("point", m, tg, ts, ts, nextSeq()))
    firePost(EventType.PostDeletePoint, Payloads.PostDeletePoint(m, tg, ts))
    Right(())
  }

  def deleteSeries(metric: String, tags: Map[String, String]): Either[String, Unit] = {
    var (m, tg) = (metric, tags)
    if (hooks.hasListeners(EventType.PreDeleteSeries)) {
      val pay = new Payloads.PreDeleteSeries(m, tg)
      hooks.trigger(HookEvent(EventType.PreDeleteSeries, pay)) match {
        case Left(err) => return Left(err)
        case Right(()) => m = pay.metric; tg = pay.tags
      }
    }
    commitTombstone(TombRow("series", m, tg, 0L, 0L, nextSeq()))
    firePost(EventType.PostDeleteSeries,
      Payloads.PostDeleteSeries(m, tg, SeriesKey.of(m, tg)))
    Right(())
  }

  def deleteRange(metric: String, tags: Map[String, String], fromNs: Long, toNs: Long): Either[String, Unit] = {
    var (m, tg, a, b) = (metric, tags, fromNs, toNs)
    if (hooks.hasListeners(EventType.PreDeleteRange)) {
      val pay = new Payloads.PreDeleteRange(m, tg, a, b)
      hooks.trigger(HookEvent(EventType.PreDeleteRange, pay)) match {
        case Left(err) => return Left(err)
        case Right(()) => m = pay.metric; tg = pay.tags; a = pay.startNs; b = pay.endNs
      }
    }
    commitTombstone(TombRow("range", m, tg, a, b, nextSeq()))
    firePost(EventType.PostDeleteRange,
      Payloads.PostDeleteRange(m, tg, SeriesKey.of(m, tg), a, b))
    Right(())
  }

  private def commitTombstone(t: TombRow): Unit = {
    val hwm = seqCounter.get()
    log.commit(v => LogCommit(v, tombs = Seq(t), metrics = Seq(t.metric), maxSeq = hwm))
    committed()
  }

  // ---- read path --------------------------------------------------------

  /** Read a set of manifest-listed data files as one frame, canonical
    * columns `(tags, timestamp, fields, seq, metric, date)`. Hive-layout
    * files recover metric/date from their directory segments (basePath);
    * LEVEL-0 files ([[TxLog.isL0]]: small streaming micro-batch commits,
    * written unpartitioned to dodge the dynamic-partition writer spread —
    * SCALE.md r13) carry them as real columns. The two reads union by
    * position after an explicit select, so downstream consumers see one
    * shape regardless of which level a row lives in. */
  private def readFiles(files: Seq[String]): Option[DataFrame] = {
    if (files.isEmpty) return None
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val canonical = Seq("tags", "timestamp", "fields", "seq", "metric", "date")
    val (l0, hive) = files.partition(TxLog.isL0)
    val h =
      if (hive.isEmpty) None
      else Some(spark.read.option("basePath", dataDir)
        .parquet(hive.map(f => s"$dataDir/$f"): _*))
    val l =
      if (l0.isEmpty) None
      else Some(spark.read.parquet(l0.map(f => s"$dataDir/$f"): _*))
    (h, l) match {
      case (Some(a), Some(b)) =>
        Some(a.select(canonical.map(col): _*)
          .unionByName(b.select(canonical.map(col): _*)))
      case (a, b) => a.orElse(b)
    }
  }

  /** Files plus live inline commits of a snapshot as one frame. */
  private def readSnapshot(s: LogSnapshot): Option[DataFrame] =
    (readFiles(s.files), inlineDF(s)) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }

  /** The committed row set as one DataFrame: hive-style files (partition
    * columns `metric`, `date` recovered via basePath), L0 files (read by
    * column — [[readFiles]]) and inline commits ([[inlineDF]] — rows
    * living in the log manifests themselves). Only manifest-listed
    * content is read — a torn or uncommitted file in the directory is
    * invisible. Plan reuse: the resolved frame is cached per log
    * version. */
  def loadPoints(): Option[DataFrame] = loadPointsAt(snap)

  private var viewCache: (Long, Option[DataFrame]) = (-1L, None)

  private def loadPointsAt(s: LogSnapshot): Option[DataFrame] = synchronized {
    if (viewCache._1 == s.version) viewCache._2
    else {
      val v = readSnapshot(s)
      viewCache = (s.version, v)
      v
    }
  }

  def loadTombstones(): Seq[Tombstone] = snap.tombs.map(tombOf)

  /** Execute a query with full merge/tombstone semantics. A `PreQuery`
    * listener may rewrite the params or veto (throws [[HookVetoException]]
    * — this API has no error channel); `PostQuery` observes params +
    * plan-construction time (execution is lazy downstream). */
  def query(params: QueryParams): DataFrame = queryImpl(params, routed = false)

  /** [[query]] with rollup routing: identical results (spec-asserted in
    * `RollupSpec`), but a registered rollup covering the shape answers
    * from materialized partials. [[query]] itself stays unrouted so it
    * remains the ground-truth path specs compare against. */
  def queryRouted(params: QueryParams): DataFrame = queryImpl(params, routed = true)

  /** Aggregation across series grouped by tag keys
    * ([[TsAnalytics.aggregateByTags]]) over this engine's storage.
    * Deliberately NOT a [[QueryParams]] field: the serving tiers and
    * result cache are per-series shapes and must never see a tag-grouped
    * query. A registered rollup covering the shape DOES accelerate it —
    * [[Rollup.runByTags]] merges the same partials by tag-tuple instead
    * of series, reading |series|×windows rows instead of points
    * (row-identical, spec-asserted). */
  def queryByTags(params: QueryParams, tagKeys: Seq[String]): DataFrame = {
    val spec = rollupSpecs.get(params.metric)
    if (spec != null && byTagsRollupEligible(params, spec))
      Rollup.runByTags(rollupView(params.metric, spec), spec.intervalNs,
        params, tagKeys)
    else {
      val pts = loadPoints().getOrElse(TsdbEngine.emptyPoints(spark))
      TsAnalytics.aggregateByTags(pts, params, tagKeys, loadTombstones())
    }
  }

  private def byTagsRollupEligible(params: QueryParams, spec: RollupReg): Boolean =
    Rollup.supports(params, spec.intervalNs, spec.fields.toSet, spec.digests) &&
      params.fill == FillNone && !params.emitEmptyWindows && params.afterKey.isEmpty

  /** `QUERY m … ANALYZE <op>` — the [[TsAnalytics]] pack over this
    * engine's storage (NBQL extension), as the raw Spark plan. The
    * protocol path serves through [[analyzeServingDF]], which fronts
    * THIS with the result cache under a namespaced key
    * ([[QueryCache.analyzeKeyOf]] — an ANALYZE can never collide with
    * its plain-QUERY twin). LIMIT applies to the ordered analytic
    * output. */
  def analyze(params: QueryParams, spec: AnalyzeSpec,
      splitNs0: Option[Long] = None): DataFrame = {
    // smoothing-rate ranges checked HERE like registerRollup's — the NBQL
    // parser validates its own input, but a direct-API caller would
    // otherwise only fail inside the native fold's Catalyst type check
    // (analysis-time, opaque) or silently mis-smooth
    def rate(x: Double, name: String): Unit =
      require(x > 0.0 && x <= 1.0, s"smoothing $name must be in (0, 1], got $x")
    spec match {
      case AnalyzeEwma(_, a) => rate(a, "alpha")
      case AnalyzeEwmaBy(_, a, _) => rate(a, "alpha")
      case AnalyzeHolt(_, a, b) => rate(a, "alpha"); rate(b, "beta")
      case AnalyzeHoltBy(_, a, b, _) => rate(a, "alpha"); rate(b, "beta")
      case _ => ()
    }
    val pts = loadPoints().getOrElse(TsdbEngine.emptyPoints(spark))
    val tombs = loadTombstones()
    // SPLIT AUTO resolves against the query's ACTUAL range here, before
    // any analytic sees a width (TsAnalytics.SplitAuto scaladoc)
    val splitNs = splitNs0.map {
      case TsAnalytics.SplitAuto =>
        val (s0, e0) = QueryEngine.resolveRange(
          pts.filter(TagMatch.metricPred(params.metric)), params)
        TsAnalytics.autoSplitNs(s0, e0, spark.sparkContext.defaultParallelism)
      case v => v
    }
    val df = spec match {
      case AnalyzeRate(f) =>
        TsAnalytics.rate(pts, params, field = f, tombstones = tombs,
          splitNs = splitNs)
      case AnalyzeEwma(f, a) =>
        TsAnalytics.ewmaSmooth(pts, params, a, field = f, tombstones = tombs,
          splitNs = splitNs)
      case AnalyzeHolt(f, a, b) =>
        TsAnalytics.holtSmooth(pts, params, a, b, field = f,
          tombstones = tombs, splitNs = splitNs)
      case AnalyzeCumsum(f) =>
        TsAnalytics.runningAggregates(pts, params, field = f,
          tombstones = tombs, splitNs = splitNs)
      case AnalyzeZScore(f, lb, th) =>
        // minPoints clamps to the lookback so small NBQL lookbacks are
        // legal (the grammar doesn't carry minPoints; 5 is the default
        // warm-up, `TsAnalytics.rollingZScore`)
        TsAnalytics.rollingZScore(pts, params, field = f, lookback = lb,
          minPoints = math.min(5, lb), threshold = th, tombstones = tombs,
          splitNs = splitNs)
      case AnalyzeCorrelate(f, b, key, iv, mb) =>
        val (s0, e0) = analyzeCrossRange(pts, params, b)
        pairedFromRollups(params.metric, b, key, iv, s0, e0, f) match {
          case Some(paired) =>
            lastServePath = "rollup-correlate"
            TsAnalytics.correlateFinish(paired, mb)
          case None =>
            TsAnalytics.correlate(pts, params.metric, b, key, iv, s0, e0,
              field = f, minBuckets = mb, tombstones = tombs)
        }
      case AnalyzeRatio(f, b, key, iv) =>
        val (s0, e0) = analyzeCrossRange(pts, params, b)
        pairedFromRollups(params.metric, b, key, iv, s0, e0, f) match {
          case Some(paired) =>
            lastServePath = "rollup-ratio"
            TsAnalytics.ratioFinish(paired)
          case None =>
            TsAnalytics.ratio(pts, params.metric, b, key, iv, s0, e0,
              field = f, tombstones = tombs)
        }
      case AnalyzeTopK(k, by, keys, asc) =>
        TsAnalytics.topKGroups(pts, params, keys, k, by, tombstones = tombs,
          ascending = asc)
      case _ => analyzeRouted(AnalyzeRoutes.of(params, spec).get, pts, tombs,
        splitNs)
    }
    // keyset resume (round 13): per-series/windowed analytics order by
    // (series_key[, window_start|timestamp]) — AFTER filters strictly
    // past the cursor in that order, making over-budget ANALYZE results
    // walkable page by page through the same row-budgeted machinery the
    // plain-QUERY path has (the cursor rides Cursor(ts, seriesKey) with
    // ts = the secondary key, 0 for one-row-per-series shapes). Applies
    // BEFORE limit so page 2 of a LIMITed walk is the next rows, not a
    // re-filtered page 1. Group-keyed shapes (TOPK/CORRELATE/...) have
    // no series keyset — AFTER on them is a clean error.
    val paged = params.afterKey.fold(df) { c =>
      val cols = df.columns.toSet
      require(cols.contains("series_key"),
        s"AFTER is not supported for this ANALYZE shape")
      val sk = col("series_key")
      Seq("window_start", "timestamp").find(cols.contains) match {
        case Some(sec) => df.filter(sk > c.seriesKey ||
          (sk === c.seriesKey && col(sec) > c.timestamp))
        case None => df.filter(sk > c.seriesKey)
      }
    }
    params.limit.fold(paged)(n => paged.limit(n.toInt))
  }

  /** A rollup-routed ANALYZE on the Spark path ([[AnalyzeRoutes]]): the
    * registered rollup's partial plan when the route covers the
    * registration and its gate passes over the persisted frame's
    * columns, the raw analytic otherwise; projected to the verb's
    * columns. Tombstones are immaterial to the route — rollup views are
    * built over the merged, tombstone-applied frame. A recurrence's
    * range-start condition reads the cached per-(metric, epoch) min
    * window bound, which answers the common from-the-start dashboard
    * with NO job; only a mid-range start pays the limit-1 probe. */
  private def analyzeRouted(rt: AnalyzeRoute, pts: DataFrame,
      tombs: Seq[Tombstone], splitNs: Option[Long]): DataFrame = {
    val p = rt.p
    val reg = rollupSpecs.get(p.metric)
    val routed = rt.spark
      .filter(_ => reg != null && rt.covers(reg) && rt.gate(reg.intervalNs, _ => true))
      .flatMap { run =>
        val view = rollupView(p.metric, reg)
        if (rt.gate(reg.intervalNs, view.columns.contains) && rt.smooth.forall(s =>
            rollupMinWindowStart(p.metric, reg, view) >= p.startNs ||
              Rollup.smoothRangeStartProbe(view, p, s))) {
          lastServePath = rt.sparkPath
          Some(run(view, reg.intervalNs))
        } else None
      }
    rt.project(routed.getOrElse {
      lastServePath = "analyze-raw"
      rt.raw(pts, tombs, splitNs)
    })
  }

  /** ANALYZE through the serving tier: the protocol entry for the
    * analytics pack (the reference's NBQL-layer cache position, same as
    * [[queryServingDF]]). The cache key extends the point-query key with
    * the analytic's parameters and split width
    * ([[QueryCache.analyzeKeyOf]] — distinct namespaces, an ANALYZE can
    * never serve its plain-QUERY twin's rows or vice versa), and the
    * epoch for the cross-metric analytics (CORRELATE/RATIO) is the SUM
    * of both metrics' epochs — epochs only move forward, so the sum is
    * strictly monotone and a write to EITHER side invalidates. Results
    * over [[servingRowBudget]] serve the streamed full plan, uncached —
    * the same bounded-driver contract as the point path. Pre/PostQuery
    * hooks fire as on [[queryServingDF]]. */
  def analyzeServingDF(params: QueryParams, spec: AnalyzeSpec,
      splitNs: Option[Long] = None): DataFrame =
    toDF(serveAnalyze(params, spec, splitNs))

  /** [[analyzeServingDF]] without the DataFrame wrap — see
    * [[serveQuery]] for why the protocol servers want the raw rows. */
  def serveAnalyze(params: QueryParams, spec: AnalyzeSpec,
      splitNs: Option[Long] = None): TsdbEngine.Served = {
    var p = params
    if (hooks.hasListeners(EventType.PreQuery)) {
      val pay = new Payloads.PreQuery(p)
      hooks.trigger(HookEvent(EventType.PreQuery, pay)) match {
        case Left(err) => throw new HookVetoException(err)
        case Right(()) => p = pay.params
      }
    }
    val t0 = System.nanoTime()
    val (rows, truncated, schema) = analyzeCachedFull(p, spec, splitNs)
    val out: TsdbEngine.Served =
      if (truncated) { lastServePath = "analyze-stream"; Right(analyze(p, spec, splitNs)) }
      else Left((rows, schema))
    firePost(EventType.PostQuery, Payloads.PostQuery(p, System.nanoTime() - t0))
    out
  }

  /** Driver-side ANALYZE rows — the [[queryCached]] analog for the
    * analytics pack (no DataFrame wrap on the hit path; over-budget
    * results come back as the budget-sized prefix of the ordered
    * output). */
  def analyzeCached(params: QueryParams, spec: AnalyzeSpec,
      splitNs: Option[Long] = None): Array[Row] =
    analyzeCachedFull(params, spec, splitNs)._1

  private def analyzeCachedFull(p: QueryParams, spec: AnalyzeSpec,
      splitNs: Option[Long]): (Array[Row], Boolean,
      org.apache.spark.sql.types.StructType) = {
    val epoch = spec match {
      case AnalyzeCorrelate(_, b, _, _, _) => metricEpoch(p.metric) + metricEpoch(b)
      case AnalyzeRatio(_, b, _, _) => metricEpoch(p.metric) + metricEpoch(b)
      case _ => metricEpoch(p.metric)
    }
    val cacheable = (p.relativeNs.isEmpty || p.nowNs.isDefined) &&
      !TagMatch.isPrefix(p.metric)
    val key = resultCache.analyzeKeyOf(p, spec, splitNs)
    val cached = if (cacheable) resultCache.getByKey(key, epoch) else None
    cached match {
      case Some((rows, schema)) =>
        lastServePath = "analyze-cache"
        (rows, false, schema)
      case None =>
        // driver-resident rollup tier: the routed verb's fold over the
        // resident partials — no job, no planning floor
        val local = AnalyzeRoutes.of(p, spec).flatMap(serveLocalAnalytic)
        local match {
          case Some((rows, sch)) =>
            if (cacheable) resultCache.putByKey(key, epoch, rows, sch)
            (rows, false, sch)
          case None =>
            val df = analyze(p, spec, splitNs)
            // keep rollup-route telemetry visible through the wire path
            // (a clobbered "analyze-spark" hid whether the plan was the
            // raw scan or the partial route)
            val inner = lastServePath
            val budget = servingRowBudget
            val probe = df.limit(
              math.min(budget + 1, Int.MaxValue.toLong).toInt).collect()
            lastServePath =
              if (inner != null && inner.startsWith("rollup-")) inner
              else "analyze-spark"
            if (probe.length > budget) (probe.take(budget.toInt), true, df.schema)
            else {
              if (cacheable) resultCache.putByKey(key, epoch, probe, df.schema)
              (probe, false, df.schema)
            }
        }
    }
  }

  /** Driver-resident serving of a rollup-routed ANALYZE: the route's own
    * gate over the resident frame's columns, then its fold over the
    * [startNs, endNs] slice. A recurrence additionally needs no matched
    * non-empty window before startNs (the stored state is a prefix
    * fold); the check walks the resident rows BEFORE the slice, a driver
    * array walk, not a job. */
  private def serveLocalAnalytic(rt: AnalyzeRoute):
      Option[(Array[Row], org.apache.spark.sql.types.StructType)] = {
    val p = rt.p
    val reg = rollupSpecs.get(p.metric)
    // afterKey: a cursor resume takes the Spark path, whose generic
    // keyset filter + limit handle it ([[analyze]]) — the local folds
    // apply LIMIT internally, which would otherwise re-serve page 1
    if (reg == null || !rt.covers(reg) || p.afterKey.isDefined ||
        !rt.gate(reg.intervalNs, _ => true)) None
    else localRollupRows(p.metric, reg).flatMap { case (rows, ws, sch) =>
      val lo = lowerBound(ws, p.startNs)
      if (!rt.gate(reg.intervalNs, sch.fieldNames.contains) ||
          rt.smooth.exists(s => residentBefore(rows, lo, sch, p, s.field))) None
      else {
        lastServePath = rt.localPath
        Some((rt.local(residentSlice(rows, ws, p), sch), rt.schema))
      }
    }
  }

  /** True when a resident row before index `lo` matches `p` and holds a
    * numeric sample of `field`. */
  private def residentBefore(rows: Array[Row], lo: Int,
      sch: org.apache.spark.sql.types.StructType, p: QueryParams,
      field: String): Boolean = {
    val iMetric = sch.fieldIndex("metric")
    val iTags = sch.fieldIndex("tags")
    val iCnt = sch.fieldIndex(s"${field}__cnt")
    rows.iterator.take(lo).exists(r => r.getString(iMetric) == p.metric &&
      r.getLong(iCnt) > 0 && LocalRollup.tagsMatch(r, iTags, p))
  }

  /** The binary-searched [startNs, endNs] window slice of resident rollup
    * rows (sorted by window_start); the folds re-apply the same bounds,
    * so the slice is purely a scan reduction. */
  private def residentSlice(rows: Array[Row], ws: Array[Long],
      p: QueryParams): Array[Row] = {
    val lo = lowerBound(ws, p.startNs)
    val hi = math.max(lo, upperBound(ws, p.endNs.get))
    java.util.Arrays.copyOfRange(
      rows.asInstanceOf[Array[AnyRef]], lo, hi).asInstanceOf[Array[Row]]
  }

  /** Paired (tag_value, bucket, va, vb, n_a, n_b) frame for the
    * cross-metric analytics from ROLLUP PARTIALS — Σ window sums /
    * Σ window counts per (tag value, bucket), points never scanned —
    * when BOTH metrics have registered rollups whose grain divides the
    * bucket and covers the field over a whole-window range
    * ([[Rollup.supportsBucketAvg]]). The join is null-safe on tag_value
    * (untagged series group under null, like the point path's GROUP BY),
    * inner on bucket (only co-observed buckets pair — the same filter
    * the point path applies). The decomposed average re-associates the
    * FP sum vs the single-aggregation point path: same approximate-free
    * contract as the downsample rollup route (sums of the same operands,
    * different association — ulp-level), spec-pinned at 1e-9. */
  private def pairedFromRollups(metricA: String, metricB: String,
      tagKey: String, bucketNs: Long, startNs: Long, endNs: Long,
      field: String): Option[org.apache.spark.sql.DataFrame] = {
    val (sa, sb) = (rollupSpecs.get(metricA), rollupSpecs.get(metricB))
    if (sa == null || sb == null ||
        !Rollup.supportsBucketAvg(bucketNs, startNs, endNs, sa.intervalNs,
          sa.fields.toSet, field) ||
        !Rollup.supportsBucketAvg(bucketNs, startNs, endNs, sb.intervalNs,
          sb.fields.toSet, field)) return None
    val fa = Rollup.bucketStats(rollupView(metricA, sa), metricA, tagKey,
      bucketNs, startNs, endNs, field)
      .select(col("tag_value"), col("bucket"),
        col("v").as("va"), col("n").as("n_a"))
    val fb = Rollup.bucketStats(rollupView(metricB, sb), metricB, tagKey,
      bucketNs, startNs, endNs, field)
      .select(col("tag_value").as("__tvb"), col("bucket").as("__bb"),
        col("v").as("vb"), col("n").as("n_b"))
    Some(fa.join(fb,
        fa("tag_value") <=> fb("__tvb") && fa("bucket") === fb("__bb"))
      .drop("__tvb", "__bb"))
  }

  /** Range resolution for the cross-metric analytics (CORRELATE/RATIO),
    * which take raw bounds rather than `QueryParams`: the F6 default/
    * RELATIVE contract applied over BOTH metrics' points (the pair is
    * one logical scan — `metric IN (a, b)`). */
  private def analyzeCrossRange(pts: org.apache.spark.sql.DataFrame,
      params: QueryParams, metricB: String): (Long, Long) =
    QueryEngine.resolveRange(
      pts.filter(col("metric").isin(params.metric, metricB)), params)


  /** Serving base frame for `p`: the per-metric incremental serving view
    * normally; for a PREFIX metric (`web.*` fan-out) the per-metric view
    * machinery doesn't apply, so the base is the full merged view — a
    * fresh plan, correct by construction, never a stale or empty
    * per-metric frame. */
  private def servingBase(p: QueryParams): org.apache.spark.sql.DataFrame =
    if (TagMatch.isPrefix(p.metric))
      QueryEngine.mergedView(
        loadPoints().getOrElse(TsdbEngine.emptyPoints(spark)), loadTombstones())
    else servingView(p.metric)

  /** Serving-tier [[queryByTags]]: when a registered rollup covers the
    * shape AND its partial frame is driver-resident, the tag-grouped
    * re-aggregation runs in pure Scala ([[LocalRollup.runByTags]] — no
    * Spark job, no per-query planning floor; a repeated `sum by (dc)`
    * dashboard query costs microseconds) and the result is returned as a
    * LocalRelation so the protocol servers keep their streaming seams.
    * Anything else falls to the Spark path. */
  def queryByTagsServingDF(params: QueryParams, tagKeys: Seq[String]): DataFrame =
    toDF(serveByTags(params, tagKeys))

  /** [[queryByTagsServingDF]] without the DataFrame wrap — see
    * [[serveQuery]]. */
  def serveByTags(params: QueryParams,
      tagKeys: Seq[String]): TsdbEngine.Served = {
    val spec = rollupSpecs.get(params.metric)
    val local: Option[TsdbEngine.Served] =
      if (spec != null && byTagsRollupEligible(params, spec))
        localRollupRows(params.metric, spec).map { case (rows, ws, sch) =>
          lastServePath = "local-rollup-tags"
          Left((LocalRollup.runByTags(residentSlice(rows, ws, params), sch,
            params, spec.intervalNs, tagKeys),
            LocalRollup.outputSchemaByTags(params, tagKeys)))
        }
      else None
    local.getOrElse {
      lastServePath = "spark"; Right(queryByTags(params, tagKeys))
    }
  }

  private def queryImpl(params: QueryParams, routed: Boolean): DataFrame = {
    var p = params
    if (hooks.hasListeners(EventType.PreQuery)) {
      val pay = new Payloads.PreQuery(p)
      hooks.trigger(HookEvent(EventType.PreQuery, pay)) match {
        case Left(err) => throw new HookVetoException(err)
        case Right(()) => p = pay.params
      }
    }
    val t0 = System.nanoTime()
    val out = if (routed) routedDF(p) else {
      val pts = loadPoints().getOrElse(emptyPoints(spark))
      QueryEngine.run(pts, p, loadTombstones())
    }
    firePost(EventType.PostQuery, Payloads.PostQuery(p, System.nanoTime() - t0))
    out
  }

  /** Rollup-routed (or raw) plan for `p`, no hooks — shared by
    * [[queryRouted]] and [[queryServingDF]]'s truncation fallback. */
  private def routedDF(p: QueryParams): DataFrame =
    rollupRoute(p).getOrElse {
      val pts = loadPoints().getOrElse(emptyPoints(spark))
      QueryEngine.run(pts, p, loadTombstones())
    }

  /** One commit's observable changes, for polling subscriptions (S8/ST6
    * over the TCP transport): PUT rows come from PURE-APPEND commits only
    * — compaction/restore commits carry `removes` and are storage
    * rewrites, not new data, so a subscriber must never see them as puts
    * — and tombstones surface as DELETE updates. Files vacuumed since the
    * commit are skipped (their rows were rewritten, not new). */
  /** Oldest commit manifest still on disk — the subscription push
    * loop's lag horizon (commits below it were truncated under a
    * checkpoint and can no longer be replayed per-commit). */
  private[graft] def oldestAvailableCommitVersion: Option[Long] =
    log.availableCommitVersions().headOption

  def commitChanges(version: Long): (Option[DataFrame], Seq[TombRow]) = {
    val c = log.read(version)
    val puts =
      // removes / clearInline / foldedInline mark storage REWRITES
      // (compaction, L0 or inline fold-down) — their rows were already
      // published, never re-delivered as puts
      if (c.removes.nonEmpty || c.clearInline || c.foldedInline.nonEmpty) None
      else if (c.inline.isDefined)
        inlineDF(LogSnapshot.empty.copy(
          inline = Vector(InlineCommit(version, c.inline.get, c.metrics, c.dates))))
      else if (c.adds.isEmpty) None
      else readFiles(
        c.adds.filter(f => Files.exists(Paths.get(dataDir).resolve(f))))
    (puts, c.tombs)
  }

  /** Read the table as of an older log version (time travel — what
    * Delta's VERSION AS OF gives; bounded by vacuum retention). */
  def readAt(version: Long): DataFrame =
    readSnapshot(log.replay(upTo = version))
      .getOrElse(TsdbEngine.emptyPoints(spark))

  // ---- serving view: per-metric merged-frame cache ----------------------

  /** One metric's materialized serving state: a PERSISTED base frame (the
    * time-clustered full build) plus per-commit date DELTAS — the LSM
    * shape (levels + small recent tables): a later commit's dates are
    * served from its delta, everything else from the base. `view` is the
    * memoized assembled frame queries run against. */
  private final case class ServingMat(epoch: Long, base: DataFrame,
      deltas: Vector[(Set[String], DataFrame)], view: DataFrame)

  /** metric → serving state. Access-ordered for LRU eviction. */
  private val servingCache =
    new java.util.LinkedHashMap[String, ServingMat](16, 0.75f, true)
  /** Dashboard-hot metrics kept persisted at once (MEMORY_AND_DISK — an
    * eviction degrades to recompute, never to wrong results). */
  private[graft] var servingCacheMax = 8
  /** Deltas accumulated before the next commit triggers a FULL rebuild
    * (restores the time-clustered base layout and collapses the union). */
  private[graft] var servingDeltaMax = 16
  /** Test seam: how the last serving (re)build ran. */
  private[graft] var lastServingBuild: String = ""

  private def unpersistMat(m: ServingMat): Unit = {
    m.base.unpersist(blocking = false)
    m.deltas.foreach(_._2.unpersist(blocking = false))
  }

  /** Release every Spark-resident resource this engine holds — persisted
    * serving views, rollup frames, cardinality summaries, driver tiers.
    * The reference engine has an explicit `Close()`
    * (`engine2/adapter.go`); without one here, a discarded engine's
    * MEMORY_AND_DISK blocks outlive it in the BlockManager until memory
    * pressure evicts them (measured: a bench process that builds
    * throwaway engines carries their blocks into later work — SCALE.md
    * r14 pass-3 tail). Storage on disk is untouched: a closed engine's
    * root reopens cleanly. Idempotent. */
  def close(): Unit = synchronized {
    servingCache.values().iterator().asScala.foreach(unpersistMat)
    servingCache.clear()
    rollupCache.values().iterator().asScala
      .foreach(_._3.unpersist(blocking = false))
    rollupCache.clear()
    cardCache.foreach(_._3.unpersist(blocking = false)); cardCache = None
    localCache.clear()
    localRollupCache.clear()
    recentPuts.clear(); recentPutsBytes.set(0L)
    resultCache.clear()
    viewCache = (-1L, None)
    // a clean shutdown releases the writer heartbeat immediately —
    // restores/successors need not wait out the TTL
    try Files.deleteIfExists(writerHeartbeatFile)
    catch { case _: java.io.IOException => () }
    lastHeartbeatMs = 0L
  }

  /** Metrics at or below this many stored rows additionally keep their
    * merged view DRIVER-RESIDENT (a sorted row array) so raw-scan serving
    * needs no Spark job at all — the analog of the reference's in-memory
    * single-node serving. Above it, queries fall back to the persisted
    * Spark view; the driver never holds an unbounded copy. */
  private[graft] var localServingMaxRows: Long = 1000000L
  /** metric → (epoch, merged rows sorted by (ts, series_key), the ts
    * column as a primitive array for binary-searched range slicing,
    * schema). */
  private val localCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Row], Array[Long], org.apache.spark.sql.types.StructType)]()
  /** metric → (epoch, spec, rollup partial rows sorted by window_start,
    * the window_start column for binary-searched slicing, schema) for
    * the driver-resident ROLLUP tier ([[LocalRollup]]); null rows
    * memoize a "too big at this epoch" verdict like [[localCache]]. */
  private val localRollupCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, RollupReg, Array[Row], Array[Long], org.apache.spark.sql.types.StructType)]()

  /** First index with a(i) >= key over a sorted long array (array length
    * when none) — the driver tiers' analog of row-group min/max pruning:
    * a time-ranged query touches only its slice, not the metric's whole
    * resident history. */
  private def lowerBound(a: Array[Long], key: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }
  /** One past the last index with a(i) <= key. */
  private def upperBound(a: Array[Long], key: Long): Int =
    if (key == Long.MaxValue) a.length else lowerBound(a, key + 1)

  /** Decode a `metric=<v>` path value the way Spark escaped it on write
    * (percent-encoding of filesystem-special chars). */
  private def unescapePathSeg(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** The MERGED view (latest-version dedup + tombstones applied) of one
    * metric, persisted per metric EPOCH: a cold dashboard query replans
    * only filter+shape over the in-memory relation instead of re-running
    * the parquet scan + merge shuffle (~4x lower per-query planning+exec
    * cost; see Bench `query_qps_cold`). Keyed by `metricEpoch`, so commits
    * to OTHER metrics neither invalidate nor rebuild this one; the frame
    * reads only this metric's files, so vacuum of other metrics' data can
    * never break a cached plan.
    *
    * Maintenance is INCREMENTAL, like the rollup store: merge semantics
    * are date-local ((series, ts) determines the date partition), so a
    * commit touching K dates re-merges ONLY those dates' files into a
    * small persisted DELTA; untouched dates keep serving from the
    * already-cached base/older deltas with zero re-scan, re-shuffle, or
    * block copying. After [[servingDeltaMax]] deltas — or a commit
    * touching most of the data (e.g. compaction) — a full rebuild
    * restores the time-clustered single-frame layout. */
  def servingView(metric: String): DataFrame = synchronized {
    val e = metricEpoch(metric)
    val cur = servingCache.get(metric)
    if (cur != null && cur.epoch == e) cur.view
    else {
      val next = Option(cur).flatMap(c => tryServingIncrement(metric, c, e))
        .getOrElse(fullServingBuild(metric, e, Option(cur)))
      servingCache.put(metric, next)
      localCache.remove(metric) // stale epoch; repopulated lazily
      while (servingCache.size() > servingCacheMax) {
        val eldest = servingCache.keySet().iterator().next()
        unpersistMat(servingCache.remove(eldest))
      }
      next.view
    }
  }

  private def fullServingBuild(metric: String, e: Long,
      old: Option[ServingMat]): ServingMat = {
    lastServingBuild = "full"
    old.foreach(unpersistMat)
    val pts = metricPoints(metric, dates = None)
    val tombs = loadTombstones().filter(_.metric == metric)
    // time-clustered layout: range-partition + sort by timestamp so the
    // in-memory scan prunes whole cached batches against a query's time
    // range via batch min/max stats (the cached analog of row-group
    // pruning) — one extra shuffle per rebuild, saved on every query.
    // Partition count adapts to the metric's size (parquet-metadata
    // count, no scan): a 20k-row metric must not pay 32-task scheduling
    // on every dashboard query, a billion-row one must not serialize
    // into one task.
    val maxP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nP = math.max(1L, math.min(maxP.toLong, pts.count() / 500000L + 1L)).toInt
    val merged = QueryEngine.mergedView(pts, tombs)
      .repartitionByRange(nP, col("timestamp"))
      .sortWithinPartitions(col("timestamp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ServingMat(e, merged, Vector.empty, merged)
  }

  /** Incremental serving maintenance: re-merge only the dates the commits
    * since `cur.epoch` touched, persist them as a small delta, and stitch
    * the view by date ownership (latest delta covering a date wins). None
    * → caller does a full rebuild: delta budget exhausted, the touched
    * set is not derivable, the base predates the `date` column (empty
    * metric), or the commit churned most of the data anyway. */
  private def tryServingIncrement(metric: String, cur: ServingMat,
      e: Long): Option[ServingMat] = {
    if (cur.deltas.size >= servingDeltaMax) return None
    if (!cur.base.columns.contains("date")) return None
    rollupTouchedDates(metric, cur.epoch).flatMap { touched =>
      if (touched.isEmpty)
        // a commit named the metric but changed no observable content
        Some(cur.copy(epoch = e))
      else {
        val dataDates = dataDatesOf(snap, metric)
        if (touched.size * 2 >= math.max(1, dataDates.size)) None // churned most data
        else {
          lastServingBuild = "incremental"
          val fresh = metricMergedView(metric, Some(touched))
          // a date rebuilt to empty (all files gone) contributes no rows;
          // a day's worth of rows collapses to one cached partition
          val delta =
            (if (fresh.columns.contains("date")) fresh.coalesce(1)
             else cur.base.limit(0))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val deltas = cur.deltas :+ ((touched, delta))
          Some(ServingMat(e, cur.base, deltas, assembleServing(cur.base, deltas)))
        }
      }
    }
  }

  /** Stitch base + deltas into one frame: each date is served by the
    * NEWEST delta covering it, the base serves the rest. Pure lineage
    * over already-cached frames — assembling costs no job. */
  private def assembleServing(base: DataFrame,
      deltas: Vector[(Set[String], DataFrame)]): DataFrame = {
    val all = deltas.flatMap(_._1).toSet
    val b = if (all.isEmpty) base
            else base.filter(!col("date").isin(all.toSeq: _*))
    deltas.zipWithIndex.foldLeft(b) { case (acc, ((dates, df), i)) =>
      val later = deltas.drop(i + 1).flatMap(_._1).toSet
      val live = (dates -- later).toSeq
      if (live.isEmpty) acc
      else acc.unionByName(df.filter(col("date").isin(live: _*)))
    }
  }

  /** Serving-path query: identical results to [[query]] (spec-asserted
    * across every query shape), but the scan+merge stages come from the
    * persisted [[servingView]] — the uncached-result latency a dashboard
    * actually sees. Downsample queries covered by a registered rollup are
    * answered from materialized partials instead (same results,
    * |series| × windows rows read instead of every point). */
  def queryServing(params: QueryParams): DataFrame =
    rollupRoute(params).getOrElse(
      QueryEngine.runMerged(servingBase(params), params))

  // ---- rollup acceleration: materialized (metric, date) partials --------

  /** On-disk rollup materialization root:
    * `_rollup/metric=<m>/date=<yyyy-MM-dd>/<stamp>-part*.parquet` plus a
    * `_built.json` marker carrying (log version, spec) — the same
    * partition grammar as the data root, so query-time date pruning works
    * unchanged and MAINTENANCE is partition-level: a commit touching one
    * day rebuilds ONE date directory, every other day's files stay
    * physically untouched (the analog of level-scoped compaction,
    * `engine2/compaction_manager.go:144-262` — work ∝ what changed, never
    * the metric's full history). Derived cache, not source of truth:
    * snapshots exclude it, a crash mid-swap just means a rebuild. */
  private val rollupRoot = s"$rootDir/_rollup"

  /** metric → registered rollup spec. */
  private val rollupSpecs =
    new java.util.concurrent.ConcurrentHashMap[String, RollupReg]()
  /** metric → (log version built at, spec built with, persisted frame);
    * LRU like the serving cache. The SPEC rides in the key so
    * re-registering with a different interval/fields/digests can never
    * serve a stale frame (it forces a rebuild even with no intervening
    * commit). */
  private val rollupCache =
    new java.util.LinkedHashMap[String, (Long, RollupReg, DataFrame)](16, 0.75f, true)

  /** Register a rollup for `metric`: from now on, downsample queries whose
    * shape passes [[Rollup.supports]] against the spec are answered from
    * materialized partials. The materialization is built lazily from the
    * metric's MERGED view (so it inherits latest-version + tombstone
    * semantics), persisted under `_rollup/`, and maintained
    * INCREMENTALLY: on a later commit only the (metric, date) partitions
    * that commit touched are rebuilt. `withDigests` additionally stores
    * per-window t-digest sketches, making `p<N>` downsamples
    * rollup-eligible under the approximate contract documented on
    * [[Rollup]]. Spec-asserted identical to the raw path (percentiles:
    * within digest error; exact on singleton-centroid windows). */
  def registerRollup(metric: String, intervalNs: Long, fields: Seq[String],
      withDigests: Boolean = false,
      smooth: Seq[SmoothSpec] = Nil): Unit = synchronized {
    require(intervalNs > 0, "rollup interval must be > 0")
    require(smooth.forall(s => fields.contains(s.field)),
      "smoothing fields must be among the rollup's fields")
    require(smooth.distinct.size == smooth.size, "duplicate smoothing spec")
    // parameter ranges checked HERE, not at the commit-time rebuild: an
    // invalid spec that only failed inside Ewma/HoltTrend's type check
    // would turn every subsequent putBatch into a failure until the
    // rollup was dropped (the NBQL executor validates; so must the API)
    smooth.foreach { s =>
      require(s.kind == "ewma" || s.kind == "holt",
        s"unknown smoothing kind ${s.kind}")
      require(s.alpha > 0.0 && s.alpha <= 1.0,
        s"smoothing alpha must be in (0, 1], got ${s.alpha}")
      require(s.kind != "holt" || (s.beta > 0.0 && s.beta <= 1.0),
        s"holt beta must be in (0, 1], got ${s.beta}")
    }
    val spec = RollupReg(intervalNs, fields, withDigests, smooth)
    val prev = rollupSpecs.put(metric, spec)
    if (prev != null && prev != spec) {
      val old = rollupCache.remove(metric)
      if (old != null) old._3.unpersist(blocking = false)
    }
  }

  /** Drop the rollup: stop routing AND free the on-disk materialization. */
  def dropRollup(metric: String): Unit = synchronized {
    rollupSpecs.remove(metric)
    val old = rollupCache.remove(metric)
    if (old != null) old._3.unpersist(blocking = false)
    deleteDir(rollupMetricDir(metric))
  }

  /** Registered rollups as (metric, interval ns, fields, digests,
    * smoothing specs), metric-sorted. */
  def rollups: Seq[(String, Long, Seq[String], Boolean, Seq[SmoothSpec])] = {
    val out = Seq.newBuilder[(String, Long, Seq[String], Boolean, Seq[SmoothSpec])]
    rollupSpecs.forEach((m, v) =>
      out += ((m, v.intervalNs, v.fields, v.digests, v.smooth)))
    out.result().sortBy(_._1)
  }

  /** The routed rollup answer for `params`, when a registered rollup can
    * serve it exactly; None otherwise (caller falls back to the view).
    * `ordered = false` defers presentation ordering to the caller (the
    * cached serving path sorts collected rows driver-side, saving the
    * global-sort exchange exactly like the raw unordered path). */
  private def rollupRoute(params: QueryParams,
      ordered: Boolean = true): Option[DataFrame] = {
    val spec = rollupSpecs.get(params.metric)
    if (spec != null &&
        Rollup.supports(params, spec.intervalNs, spec.fields.toSet, spec.digests))
      Some(Rollup.run(rollupView(params.metric, spec), spec.intervalNs, params,
        ordered))
    else None
  }

  private def rollupView(metric: String, spec: RollupReg): DataFrame = synchronized {
    val e = metricEpoch(metric)
    rollupCache.get(metric) match {
      case (ver, s, df) if ver >= e && s == spec => df
      case old =>
        if (old != null) old._3.unpersist(blocking = false)
        val built = materializeRollup(metric, spec)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rollupCache.put(metric, (snap.version, spec, built))
        while (rollupCache.size() > servingCacheMax) {
          val eldest = rollupCache.keySet().iterator().next()
          rollupCache.remove(eldest)._3.unpersist(blocking = false)
        }
        built
    }
  }

  /** Cached min stored window_start per metric (the smoothing route's
    * range-start shortcut): one tiny agg per (metric, epoch, spec),
    * invalidated like the rollup cache. Long.MaxValue for an empty
    * frame (every startNs passes — there is nothing before it). */
  private val rollupMinWs =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, RollupReg, Long)]()

  private def rollupMinWindowStart(metric: String, spec: RollupReg,
      view: DataFrame): Long = {
    val e = metricEpoch(metric)
    rollupMinWs.get(metric) match {
      case (ver, sp, mw) if ver == e && sp == spec => mw
      case _ =>
        val r = view.agg(org.apache.spark.sql.functions.min(
          col("window_start"))).head()
        val mw = if (r.isNullAt(0)) Long.MaxValue else r.getLong(0)
        rollupMinWs.put(metric, (e, spec, mw))
        mw
    }
  }

  private def rollupMetricDir(metric: String): Path =
    Paths.get(rollupRoot).resolve(
      "metric=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(metric))

  private implicit lazy val markerFormats: org.json4s.Formats =
    org.json4s.DefaultFormats

  private def readRollupMarker(dirM: Path): Option[RollupMarker] = {
    val f = dirM.resolve("_built.json")
    if (!Files.isRegularFile(f)) None
    else scala.util.Try(
      org.json4s.jackson.Serialization.read[RollupMarker](Files.readString(f))
    ) match {
      case scala.util.Success(m) => Some(m)
      case scala.util.Failure(e) =>
        // an unreadable marker silently costs a FULL rebuild — surface it
        // (corrupt file, schema drift from an older build) instead of
        // letting the cost masquerade as normal maintenance
        TsdbEngine.log.warn(
          s"unreadable rollup marker $f (full rebuild will follow): $e")
        None
    }
  }

  private def writeRollupMarker(dirM: Path, version: Long, spec: RollupReg): Unit = {
    Files.createDirectories(dirM)
    val tmp = dirM.resolve(s".marker-${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, org.json4s.jackson.Serialization.write(
      RollupMarker(version, spec.intervalNs, spec.fields, spec.digests,
        spec.smooth)))
    Files.move(tmp, dirM.resolve("_built.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** `date=` partition values named by this metric's paths in `files`. */
  private def rollupDatesOf(files: Seq[String], metric: String): Set[String] =
    files.iterator.flatMap { f =>
      val segs = f.split('/')
      if (segs.length >= 2 && segs(0).startsWith("metric=") &&
          unescapePathSeg(segs(0).drop(7)) == metric &&
          segs(1).startsWith("date="))
        Some(segs(1).drop(5))
      else None
    }.toSet

  /** Dates that may hold `metric` data in snapshot `s`: hive dates from
    * paths, plus the recorded dates of any L0 file whose commit touched
    * the metric (over-approximate — an L0 commit's dates aren't broken
    * out per metric; the cost is a slightly wider rebuild, never a wrong
    * answer). */
  private def dataDatesOf(s: LogSnapshot, metric: String): Set[String] =
    rollupDatesOf(s.files, metric) ++
      s.files.iterator.filter(TxLog.isL0).flatMap(f =>
        s.l0Keys.get(f).toSeq.collect {
          case (ms, ds) if ms.contains(metric) => ds
        }.flatten) ++
      s.inline.iterator.filter(_.metrics.contains(metric)).flatMap(_.dates)

  /** Dates whose MERGED content a commit in (fromVersion, snap.version]
    * may have changed for `metric`; None forces a full rebuild (e.g. a
    * commit manifest is unreadable). File-churn dates come straight from
    * the commit's add/remove paths; a tombstone only changes dates whose
    * file set did NOT also churn, so intersecting its time range with the
    * CURRENT file set's dates is sufficient (changed-file dates are
    * already in adds∪removes). */
  private def rollupTouchedDates(metric: String,
      fromVersion: Long): Option[Set[String]] = {
    val cur = snap
    val out = scala.collection.mutable.Set.empty[String]
    lazy val dataDates = dataDatesOf(cur, metric)
    var v = fromVersion + 1
    while (v <= cur.version) {
      val c = try log.read(v) catch { case _: Exception => return None }
      if (c.metrics.contains(metric)) {
        out ++= rollupDatesOf(c.adds, metric)
        out ++= rollupDatesOf(c.removes, metric)
        // L0 files and inline commits carry no date path segment: the
        // commit records its touched dates instead (adds, removed-L0 and
        // folded-inline dates — see commitAppend / compactL0 /
        // compactInline). A legacy commit with such churn but no
        // recorded dates can't be attributed — full rebuild.
        out ++= c.dates
        if ((c.adds.exists(TxLog.isL0) || c.removes.exists(TxLog.isL0) ||
            c.inline.isDefined || c.foldedInline.nonEmpty) &&
            c.dates.isEmpty) return None
        c.tombs.filter(_.metric == metric).foreach { t =>
          if (t.kind == "series") out ++= dataDates
          else {
            val lo = dayStr(t.fromNs)
            val hi = dayStr(math.max(t.fromNs, t.toNs))
            out ++= dataDates.filter(d => d >= lo && d <= hi)
          }
        }
      }
      v += 1
    }
    Some(out.toSet)
  }

  /** MERGED view (dedup + tombstones) of one metric, optionally restricted
    * to a set of `date` partitions — the pruned input of a partition-level
    * rollup rebuild (only the touched dates' files are even listed; merge
    * per (series, timestamp) is date-local, so the restriction is exact). */
  private def metricMergedView(metric: String, dates: Option[Set[String]]): DataFrame =
    QueryEngine.mergedView(metricPoints(metric, dates),
      loadTombstones().filter(_.metric == metric))

  /** Points of ONE metric, optionally restricted to a set of `date`
    * partitions. Hive-layout files are selected by their path segments;
    * L0 files by their commit's recorded key sets ([[LogSnapshot.l0Keys]];
    * conservatively included when the log predates the metadata). An L0
    * file may interleave several metrics/dates, so COLUMN predicates then
    * make the restriction exact — for hive files those same predicates
    * fold into partition pruning, costing nothing. */
  private def metricPoints(metric: String, dates: Option[Set[String]]): DataFrame = {
    val s = snap
    val mine = s.files.filter { f =>
      if (TxLog.isL0(f))
        s.l0Keys.get(f).forall { case (ms, ds) =>
          ms.contains(metric) && dates.forall(want => ds.exists(want.contains))
        }
      else {
        val segs = f.split('/')
        segs(0).startsWith("metric=") &&
          unescapePathSeg(segs(0).drop(7)) == metric &&
          dates.forall(ds => segs.length >= 2 && segs(1).startsWith("date=") &&
            ds.contains(segs(1).drop(5)))
      }
    }
    val fileSide = readFiles(mine).map { df =>
      if (!mine.exists(TxLog.isL0)) df
      else {
        val m = df.filter(col("metric") === metric)
        dates.fold(m)(ds => m.filter(col("date").isin(ds.toSeq: _*)))
      }
    }
    // inline commits: select by recorded key sets, then exact column
    // predicates (same discipline as the L0 leg)
    val liveInline = s.inline.filter(ic => ic.metrics.contains(metric) &&
      dates.forall(want => ic.dates.exists(want.contains)))
    val inlineSide = inlineDF(s.copy(inline = liveInline)).map { df =>
      val m = df.filter(col("metric") === metric)
      dates.fold(m)(ds => m.filter(col("date").isin(ds.toSeq: _*)))
    }
    (fileSide, inlineSide) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (a, b) => a.orElse(b).getOrElse(TsdbEngine.emptyPoints(spark))
    }
  }

  /** Build / refresh the on-disk rollup materialization and return a frame
    * reading it. Incremental when the marker matches the spec, the
    * interval divides a day (windows never straddle a date partition) and
    * the touched-date set is derivable from the log; otherwise a full
    * per-metric rebuild. Untouched date directories are not rewritten —
    * each build stamps its files uniquely, so "this partition was not
    * touched" is assertable at the FILE level (RollupSpec does). */
  private def materializeRollup(metric: String, spec: RollupReg): DataFrame = {
    val dirM = rollupMetricDir(metric)
    val cur = snap
    val marker = readRollupMarker(dirM)
    val markerMatches = marker.exists(m =>
      m.intervalNs == spec.intervalNs && m.fields == spec.fields &&
        m.digests == spec.digests && m.smooth == spec.smooth &&
        m.version <= cur.version)
    // Smoothing rollups maintain SUFFIX-incrementally: stored states are
    // prefix folds, so an edit invalidates every stored window of the
    // metric AT OR AFTER the earliest commit-touched date but none
    // before it. Rebuild only partitions ≥ that boundary, resuming each
    // series' fold from its last stored pre-boundary state
    // ([[SmoothSpec]]; [[Rollup.build]]'s seeds) — bit-identical to a
    // full rebuild, work ∝ the hot tail instead of the metric's history.
    // Plain rollups stay PARTITION-local (only touched dates rebuild).
    val canIncrement = markerMatches && DayNs % spec.intervalNs == 0
    val touched: Option[Set[String]] =
      if (canIncrement) rollupTouchedDates(metric, marker.get.version)
      else if (markerMatches && marker.get.version == cur.version)
        Some(Set.empty[String]) // on-disk materialization is current
      else None
    touched match {
      case Some(ds) if ds.isEmpty => () // nothing changed for this metric
      case Some(ds) if spec.smooth.isEmpty =>
        writeRollupPartitions(dirM, metric, spec, Some(ds))
      case Some(ds) =>
        // suffix = every data/rollup date ≥ the earliest touched date
        // (dates are yyyy-MM-dd: lexicographic == chronological)
        val boundary = ds.min
        val rollupDates = listRollupDates(dirM)
        val dataDates = dataDatesOf(cur, metric)
        val replace = (rollupDates ++ dataDates).filter(_ >= boundary)
        val prefixDates = rollupDates.filter(_ < boundary)
        val seeds =
          if (prefixDates.isEmpty) None
          else {
            // the suffix build's series set, for the bounded seed scan
            // (tail-sized: reads only the replaced dates' data)
            val suffix = metricMergedView(metric, Some(replace))
            val needed =
              (if (suffix.columns.contains("series_key")) suffix
               else suffix.withColumn("series_key",
                 QueryEngine.seriesKeyCol(col("metric"), col("tags"))))
                .select("series_key").distinct()
            Some(smoothSeeds(dirM, prefixDates, spec, needed))
          }
        writeRollupPartitions(dirM, metric, spec, Some(replace), seeds)
      case None => writeRollupPartitions(dirM, metric, spec, None)
    }
    writeRollupMarker(dirM, cur.version, spec)
    val read = readRollup(dirM, metric, spec)
    // cached layout: hash-cluster on series_key (adaptive partition count,
    // like the serving view) so the re-aggregation groupBy — clustered on
    // (series_key, target_window), a superset — needs NO exchange at any
    // size; window_start sort gives the in-memory scan batch-stats pruning
    // against the query's window range.
    val maxP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nP = math.max(1L, math.min(maxP.toLong, read.count() / 500000L + 1L)).toInt
    read.repartition(nP, col("series_key"))
      .sortWithinPartitions(col("window_start"))
  }

  /** `date=` partition values currently materialized under `dirM`. */
  private def listRollupDates(dirM: Path): Set[String] =
    if (!Files.isDirectory(dirM)) Set.empty
    else Files.list(dirM).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("date="))
      .map(_.drop(5)).toSet

  /** How many of the NEWEST pre-boundary rollup partitions the seed scan
    * reads before concluding a series' resume state isn't recent
    * (falling back to the full prefix). Bounds suffix-incremental
    * maintenance's one remaining history-proportional term: with steady
    * series, every suffix series' last state lives in the most recent
    * partitions, so the scan is O(this) regardless of how deep the
    * metric's history is; only series churn (a suffix series absent from
    * the recent window) pays the full-prefix read. */
  @volatile var seedScanDates: Int = 32

  /** Per-series smoothing RESUME states at a partition boundary: for each
    * [[SmoothSpec]], the stored fold state at the series' LAST numeric
    * sample across the pre-boundary date partitions (max_by over the
    * stored last-sample ord keys — windows without a numeric sample of
    * the spec's field carry a null ord and are ignored). One row per
    * series that has any pre-boundary sample; |series| rows total, read
    * from the tiny rollup frame, never from points — and usually from
    * only the [[seedScanDates]] newest partitions: the recent window is
    * tried first and kept iff every series of `neededSeries` (the suffix
    * build's series set) resolves ALL its specs there; otherwise the
    * full prefix is read (exactness over speed — a stale series' last
    * state may live arbitrarily far back). */
  private def smoothSeeds(dirM: Path, prefixDates: Set[String],
      spec: RollupReg, neededSeries: DataFrame): DataFrame = {
    def readPrefix(dates: Seq[String]): DataFrame = {
      spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      spark.read.option("basePath", dirM.toString)
        .parquet(dates.map(d => s"$dirM/date=$d"): _*)
    }
    def over(dates: Seq[String]): DataFrame = {
      val aggs = spec.smooth.map { s =>
        org.apache.spark.sql.functions.max_by(
          col(Rollup.smoothStateCol(s)),
          col(s"${s.field}__last_ord")).as(Rollup.smoothSeedCol(s))
      }
      readPrefix(dates).groupBy(col("series_key")).agg(aggs.head, aggs.tail: _*)
    }
    val sorted = prefixDates.toSeq.sorted
    val recent = sorted.takeRight(math.max(1, seedScanDates))
    if (recent.size == sorted.size) { lastSeedScan = "all"; over(sorted) }
    else {
      val r = over(recent)
      val resolved = r.filter(spec.smooth
        .map(s => col(Rollup.smoothSeedCol(s)).isNotNull).reduce(_ && _))
      val unresolved =
        neededSeries.join(resolved, Seq("series_key"), "left_anti")
      if (unresolved.isEmpty) { lastSeedScan = "recent"; r }
      else {
        // An unresolved series is one of two very different cases:
        //  - STALE: it has pre-boundary rollup rows, just none in the
        //    recent window — its seed lives deeper; exactness demands
        //    the full-prefix read.
        //  - BRAND-NEW: it has NO pre-boundary rows anywhere — the
        //    unseeded fold is already exact, and falling back would
        //    defeat the bounded scan precisely on the most common
        //    pattern, new series appearing in the ingest suffix.
        // Distinguishing them needs only the series_key COLUMN of the
        // older partitions — a pruned single-column scan of the tiny
        // rollup frame, not the full-prefix state read.
        val older = sorted.dropRight(recent.size)
        val staleExists = !unresolved
          .join(readPrefix(older).select("series_key").distinct(),
            Seq("series_key"), "left_semi")
          .isEmpty
        if (staleExists) { lastSeedScan = "full"; over(sorted) }
        else { lastSeedScan = "recent-new"; r }
      }
    }
  }

  /** Which branch the last [[smoothSeeds]] took (test/bench seam):
    * "all" = prefix fits the window, "recent" = bounded scan sufficed,
    * "full" = a suffix series was stale past the window. */
  @volatile private[graft] var lastSeedScan: String = ""

  /** Aggregate + swap: build partials for the affected dates (all, when
    * `replaceDates` is None), stage, delete the replaced date dirs, move
    * the staged files in under build-unique names. A date rebuilt to
    * empty simply loses its directory. `seeds` resumes smoothing folds
    * at a suffix boundary ([[smoothSeeds]]; [[Rollup.build]]). */
  private def writeRollupPartitions(dirM: Path, metric: String, spec: RollupReg,
      replaceDates: Option[Set[String]],
      seeds: Option[DataFrame] = None): Unit = {
    // buildRaw fuses the latest-version dedup into the build's own
    // clustering — one exchange for the whole merge → window → aggregate
    // pipeline instead of mergedView's (series_key, timestamp) exchange
    // plus the build's own (r17; same merged semantics, tombstones
    // applied post-dedup exactly as metricMergedView did)
    val rolled = Rollup.buildRaw(metricPoints(metric, replaceDates),
      spec.intervalNs, spec.fields, spec.digests, spec.smooth, seeds,
      tombstones = loadTombstones().filter(_.metric == metric))
      .withColumn("date", dateOfTs(col("window_start")))
    val stamp = java.util.UUID.randomUUID().toString.take(12)
    val staging = Paths.get(s"$rootDir/_staging/rollup-$stamp")
    // explicit count — see commitAppend's note (AQE would serialize an
    // incremental rebuild's per-date writers into one task); capped at
    // the number of date partitions actually being replaced (a 1-date
    // incremental rebuild needs 1 write task, not 31 empty ones)
    val width = math.max(1, math.min(shufflePartitions,
      replaceDates.map(_.size).getOrElse(shufflePartitions)))
    rolled.repartition(width, col("date"))
      .write.option("compression", compressionCodec)
      .partitionBy("date").parquet(staging.toString)
    replaceDates match {
      case Some(ds) => ds.foreach(d => deleteDir(dirM.resolve(s"date=$d")))
      case None =>
        if (Files.isDirectory(dirM))
          Files.list(dirM).iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("date="))
            .foreach(deleteDir)
    }
    if (Files.isDirectory(staging))
      Files.walk(staging).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
        .foreach { src =>
          val rel = staging.relativize(src)
          val dest = dirM.resolve(s"${rel.getParent}/$stamp-${src.getFileName}")
          Files.createDirectories(dest.getParent)
          Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
        }
    deleteDir(staging)
  }

  private def readRollup(dirM: Path, metric: String, spec: RollupReg): DataFrame = {
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val hasDates = Files.isDirectory(dirM) &&
      Files.list(dirM).iterator().asScala
        .exists(_.getFileName.toString.startsWith("date="))
    if (!hasDates)
      // schema-correct empty frame (metric with no data yet)
      Rollup.build(QueryEngine.mergedView(emptyPoints(spark), Nil),
          spec.intervalNs, spec.fields, spec.digests, spec.smooth)
        .withColumn("date", dateOfTs(col("window_start")))
    else spark.read.option("basePath", dirM.toString).parquet(dirM.toString)
  }

  /** Driver-resident merged rows for a small metric (raw-scan serving
    * tier), or None above [[localServingMaxRows]]. Rows are the exact
    * raw-scan projection sorted by (timestamp, series_key); a "too big at
    * this epoch" verdict is memoized with a null-rows marker so large
    * metrics pay the count once per commit, not per query. */
  private def localRows(metric: String): Option[(Array[Row], Array[Long], org.apache.spark.sql.types.StructType)] = {
    val e = metricEpoch(metric)
    localCache.get(metric) match {
      case (ep, rows, ts, sch) if ep == e =>
        // re-check the threshold so lowering it takes effect immediately
        if (rows == null || rows.length > localServingMaxRows) None
        else Some((rows, ts, sch))
      case _ =>
        val view = servingView(metric)
        if (view.count() > localServingMaxRows) {
          localCache.put(metric, (e, null, null, null)); None
        } else {
          val proj = view.select("metric", "tags", "timestamp", "fields", "seq", "series_key")
          val rows = proj.collect().sortBy(r =>
            (r.getAs[Long]("timestamp"), r.getAs[String]("series_key")))(
            Ordering.Tuple2(Ordering.Long, Utf8Order))
          val ts = rows.map(_.getLong(2))
          localCache.put(metric, (e, rows, ts, proj.schema))
          Some((rows, ts, proj.schema))
        }
    }
  }

  /** Serve a raw-scan query from the driver-resident tier: pure Scala
    * filter/slice over the sorted merged rows — no Spark job, sub-ms.
    * Aggregating shapes and over-threshold metrics return None and take
    * the Spark path. Semantics mirror `QueryEngine` exactly (inclusive
    * bounds, RELATIVE against the tag-filtered max ts, cursor keyset,
    * order, limit) and the spec asserts equality against [[query]]. */
  private def serveLocal(p: QueryParams): Option[(Array[Row], org.apache.spark.sql.types.StructType)] = {
    // value-filtered queries take the Spark path (the driver mirror
    // would need the numericOf cleaning duplicated; the filter is rare
    // enough that one plan's cost is the honest trade)
    if (p.aggs.nonEmpty || p.isDownsample || p.valueFilters.nonEmpty ||
        TagMatch.isPrefix(p.metric)) return None
    localRows(p.metric).map { case (all, ts, sch) =>
      def tagFilter(rs: Array[Row]): Array[Row] =
        if (p.tags.isEmpty) rs
        else rs.filter { r =>
          val tg = r.getAs[scala.collection.Map[String, String]]("tags")
          p.tags.forall { case (k, v) => TagMatch.matches(v, tg.get(k).orNull) }
        }
      val now = p.nowNs.getOrElse(System.currentTimeMillis() * 1000000L)
      var rows = p.relativeNs match {
        case Some(d) =>
          // RELATIVE resolves against the tag-filtered max ts — needs the
          // tagged view first, then the range filter
          val tagged = tagFilter(all)
          val dataMax =
            if (tagged.isEmpty) now
            else tagged.iterator.map(_.getAs[Long]("timestamp")).max
          val end = math.min(now, dataMax)
          val start = end - d
          tagged.filter { r =>
            val t = r.getAs[Long]("timestamp"); t >= start && t <= end
          }
        case None =>
          // absolute range: binary-search the slice, tag-filter only it
          val (startNs, endNs) = (p.startNs, p.endNs.filter(_ != 0L).getOrElse(now))
          tagFilter(java.util.Arrays.copyOfRange(
            all.asInstanceOf[Array[AnyRef]],
            lowerBound(ts, startNs), math.max(lowerBound(ts, startNs), upperBound(ts, endNs)))
            .asInstanceOf[Array[Row]])
      }
      if (p.order == Descending) rows = rows.reverse
      p.afterKey.foreach { c =>
        rows = rows.filter { r =>
          val t = r.getAs[Long]("timestamp")
          val skc = Utf8Order.compare(r.getAs[String]("series_key"), c.seriesKey)
          if (p.order == Ascending)
            t > c.timestamp || (t == c.timestamp && skc > 0)
          else t < c.timestamp || (t == c.timestamp && skc < 0)
        }
      }
      p.limit.foreach(n => rows = rows.take(n.toInt))
      (rows, sch)
    }
  }

  /** Collected rollup partials for the driver-resident rollup tier, or
    * None above [[localServingMaxRows]] (verdict memoized per epoch like
    * [[localRows]]). The collect inherits [[rollupView]]'s incremental
    * maintenance: it re-runs only when a commit touches the metric. */
  private def localRollupRows(metric: String, spec: RollupReg):
      Option[(Array[Row], Array[Long], org.apache.spark.sql.types.StructType)] = {
    val e = metricEpoch(metric)
    localRollupCache.get(metric) match {
      case (ep, s, rows, ws, sch) if ep == e && s == spec =>
        if (rows == null || rows.length > localServingMaxRows) None
        else Some((rows, ws, sch))
      case _ =>
        val view = rollupView(metric, spec)
        if (view.count() > localServingMaxRows) {
          localRollupCache.put(metric, (e, spec, null, null, null)); None
        } else {
          val iWs = view.schema.fieldIndex("window_start")
          val rows = view.collect().sortBy(_.getLong(iWs))
          val ws = rows.map(_.getLong(iWs))
          localRollupCache.put(metric, (e, spec, rows, ws, view.schema))
          Some((rows, ws, view.schema))
        }
    }
  }

  /** Serve an eligible downsample from the driver-resident rollup tier:
    * pure Scala re-aggregation over the collected partials
    * ([[LocalRollup.run]], a row-for-row mirror of the Spark rollup
    * path — spec-asserted; digest percentiles merge driver-side under
    * the same approximate contract). No job, no planning floor: this is
    * where the materialized rollup's serving win actually cashes out
    * (the Spark path pays ~100 ms+ of fixed planning/codegen per query,
    * which at bench density dwarfed the scan it saved). Over-budget
    * frames fall through to the Spark path. */
  private def serveLocalRollup(p: QueryParams): Option[(Array[Row], org.apache.spark.sql.types.StructType)] = {
    val spec = rollupSpecs.get(p.metric)
    if (spec == null ||
        !Rollup.supports(p, spec.intervalNs, spec.fields.toSet, spec.digests))
      None
    else localRollupRows(p.metric, spec).map { case (rows, ws, sch) =>
      (LocalRollup.run(residentSlice(rows, ws, p), sch, p, spec.intervalNs),
        LocalRollup.outputSchema(p))
    }
  }

  /** Test/bench seam: which tier served the last [[queryCachedCapped]]
    * call — "cache", "local", "local-rollup", or "spark". */
  @volatile private[graft] var lastServePath: String = ""

  /** Row budget for driver-side collects on the cached serving path: an
    * un-LIMITed query whose result exceeds this many rows is served
    * TRUNCATED to the budget (in presentation order, so the cut is
    * exactly the first page of the full result and the cursor protocol
    * (W3) pages through the rest) instead of materializing an unbounded
    * result on the driver. The budget probe itself is bounded:
    * `limit(budget+1)` plans as CollectLimit, which pulls partitions
    * incrementally and never holds more than budget+1 rows. Full
    * unbounded results belong to the streaming path (S9,
    * `HttpServer`/`TcpServer` row iterators), never to a driver array. */
  @volatile var servingRowBudget: Long = 2000000L

  /** Query through the result cache (serving-layer path): collected rows,
    * canonical-key lookup, PER-METRIC epoch invalidation — continuous
    * ingest into one metric leaves every other metric's entries live.
    * RELATIVE queries with an un-pinned `now` are never cached.
    * Over-[[servingRowBudget]] results are truncated — see
    * [[queryCachedCapped]] for the variant that reports truncation. */
  def queryCached(params: QueryParams): Array[Row] = queryCachedCapped(params)._1

  /** [[queryCached]] plus a truncation flag: (rows, true) means the query
    * exceeded [[servingRowBudget]] and `rows` is the budget-sized FIRST
    * page in presentation order (continue via the cursor, or switch to
    * the streaming path). Truncated results are never cached. */
  def queryCachedCapped(params: QueryParams): (Array[Row], Boolean) = {
    val (rows, truncated, _) = queryCachedFull(params)
    (rows, truncated)
  }

  /** The NBQL/HTTP/TCP protocol serving entry: the result cache and
    * driver-resident tiers front the protocol path exactly like the
    * reference's NBQL-layer cache (`api/nbql/cache_key.go` — its cache
    * keys NBQL queries, not engine internals), with Pre/PostQuery hooks
    * firing as on [[query]]. Bounded results come back as a
    * LocalRelation frame (the servers' `toLocalIterator`/schema seams
    * are unchanged); a budget-TRUNCATED result falls back to the
    * streamed Spark plan so un-LIMITed protocol queries still deliver
    * complete results. */
  def queryServingDF(params: QueryParams): DataFrame =
    toDF(serveQuery(params))

  /** [[queryServingDF]] without the DataFrame wrap: `Left(rows, schema)`
    * when the serving tiers answered on the driver — the protocol
    * servers stream those rows DIRECTLY (wrapping them in a
    * LocalRelation and draining it back through `toLocalIterator` costs
    * a full per-query plan + job submission, ~22 ms measured against the
    * tier's ~50 µs serve — SCALE.md r13); `Right(plan)` only for
    * budget-truncated results, which genuinely need the streamed full
    * plan. */
  def serveQuery(params: QueryParams): TsdbEngine.Served = {
    var p = params
    if (hooks.hasListeners(EventType.PreQuery)) {
      val pay = new Payloads.PreQuery(p)
      hooks.trigger(HookEvent(EventType.PreQuery, pay)) match {
        case Left(err) => throw new HookVetoException(err)
        case Right(()) => p = pay.params
      }
    }
    val t0 = System.nanoTime()
    // pageOnTruncation = false: an over-budget result falls back to the
    // streamed full plan below, so collecting the budget-sized first
    // page would be a discarded third execution of the query shape
    val (rows, truncated, schema) = queryCachedFull(p, pageOnTruncation = false)
    val out: TsdbEngine.Served =
      if (truncated) Right(routedDF(p)) else Left((rows, schema))
    firePost(EventType.PostQuery, Payloads.PostQuery(p, System.nanoTime() - t0))
    out
  }

  private def toDF(s: TsdbEngine.Served): DataFrame = s match {
    case Left((rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    case Right(df) => df
  }

  /** `pageOnTruncation = false` skips materializing the budget-limited
    * first page when the probe detects truncation (the rows element
    * comes back EMPTY with the flag set) — for callers that answer
    * truncation with a different plan instead of the page. */
  private def queryCachedFull(params: QueryParams,
      pageOnTruncation: Boolean = true):
      (Array[Row], Boolean, org.apache.spark.sql.types.StructType) = {
    // prefix-metric results can't be epoch-invalidated per metric — skip
    // the cache rather than risk staleness
    val cacheable = (params.relativeNs.isEmpty || params.nowNs.isDefined) &&
      !TagMatch.isPrefix(params.metric)
    val e = metricEpoch(params.metric)
    if (cacheable) resultCache.get(params, e) match {
      case Some((rows, sch)) => lastServePath = "cache"; return (rows, false, sch)
      case None => ()
    }
    val budget = servingRowBudget
    var truncated = false
    // raw scans on small metrics serve from the driver-resident tier (no
    // Spark job); otherwise un-limited queries run UNORDERED (no
    // global-sort exchange, no sampling job) and are ordered here over
    // the collected rows — same (ts, series_key) total order, one
    // driver-side sort instead of a cluster shuffle. LIMIT queries keep
    // Spark-side TakeOrdered.
    val (rows, schema) = serveLocal(params)
      .map { r => lastServePath = "local"; r }
      .orElse(serveLocalRollup(params).map { r => lastServePath = "local-rollup"; r })
      .getOrElse {
      lastServePath = "spark"
      rollupRoute(params, ordered = false) match {
        case Some(df) =>
          if (params.limit.isDefined)
            // ordered = limit.isDefined inside Rollup.run → TakeOrdered
            (df.collect(), df.schema)
          else {
            // unordered probe + driver-side presentation sort (same shape
            // as the raw path); over budget → ordered first page
            val probe = df.limit(budget.toInt + 1).collect()
            if (probe.length <= budget)
              (driverOrder(probe, params), df.schema)
            else {
              truncated = true
              if (!pageOnTruncation) (Array.empty[Row], df.schema)
              else {
                val page = rollupRoute(params.copy(limit = Some(budget))).get
                (page.collect(), page.schema)
              }
            }
          }
        case None =>
          val df = QueryEngine.runMerged(servingBase(params), params, ordered = false)
          if (params.limit.isDefined || params.isFinalAgg)
            // already bounded: TakeOrdered / single-row aggregate
            (driverOrder(df.collect(), params), df.schema)
          else {
            // bounded probe: complete iff the result fits the budget
            val probe = df.limit(budget.toInt + 1).collect()
            if (probe.length <= budget)
              (driverOrder(probe, params), df.schema)
            else {
              // over budget: re-run WITH the budget as a LIMIT — plans as
              // TakeOrdered (per-partition top-K, bounded memory) and
              // yields exactly the first page of the full ordering
              truncated = true
              if (!pageOnTruncation) (Array.empty[Row], df.schema)
              else {
                val page = QueryEngine.runMerged(servingBase(params),
                  params.copy(limit = Some(budget)))
                (page.collect(), page.schema)
              }
            }
          }
      }
    }
    if (cacheable && !truncated) resultCache.put(params, e, rows, schema)
    (rows, truncated, schema)
  }

  /** Restore presentation order on collected rows for queries that ran
    * unordered (identical to `QueryEngine.orderCols`: (ts, series_key),
    * both keys asc or both desc; keys are unique after the merge). */
  private def driverOrder(rows: Array[Row], p: QueryParams): Array[Row] = {
    if (p.limit.isDefined || p.isFinalAgg) return rows
    val tsField = if (p.isDownsample) "window_start" else "timestamp"
    val sorted = rows.sortBy(r =>
      (r.getAs[Long](tsField), r.getAs[String]("series_key")))(
      Ordering.Tuple2(Ordering.Long, Utf8Order))
    if (p.order == Descending) sorted.reverse else sorted
  }

  // ---- introspection (SURVEY §2.8) --------------------------------------

  def showMetrics(): DataFrame =
    loadPoints().getOrElse(emptyPoints(spark))
      .select(col("metric")).distinct().orderBy("metric")

  def showTagKeys(metric: String): DataFrame =
    loadPoints().getOrElse(emptyPoints(spark))
      .filter(col("metric") === metric)
      .select(explode(map_keys(col("tags"))).as("tag_key"))
      .distinct().orderBy("tag_key")

  def showTagValues(metric: Option[String], key: String): DataFrame = {
    val base = loadPoints().getOrElse(emptyPoints(spark))
    metric.fold(base)(m => base.filter(col("metric") === m))
      .select(col("tags").getItem(key).as("tag_value"))
      .filter(col("tag_value").isNotNull)
      .distinct().orderBy("tag_value")
  }

  /** `SHOW CARDINALITY [FROM m] [BY dur]` (I-series extension): distinct
    * active series + point volume per metric, windowed when `windowNs`
    * is given — [[TsAnalytics.seriesCardinality]] over this engine's
    * merged storage. Without a window the grouping is by metric alone —
    * emitted as window_start 0 for schema parity with the windowed form,
    * with NO window arithmetic involved (a sentinel interval would split
    * or drop timestamps near Long.MaxValue). */
  def showCardinality(metric: Option[String],
      windowNs: Option[Long]): DataFrame = {
    val pts0 = loadPoints().getOrElse(TsdbEngine.emptyPoints(spark))
    val pts = metric.fold(pts0)(m => pts0.filter(TagMatch.metricPred(m)))
    windowNs match {
      case Some(w) =>
        TsAnalytics.seriesCardinality(pts, w,
          startNs = 0L, endNs = Long.MaxValue, tombstones = loadTombstones())
      case None =>
        QueryEngine.mergedView(pts, loadTombstones())
          .groupBy(col("metric"))
          .agg(count_distinct(col("series_key")).as("n_series"),
            count(lit(1)).as("n_points"))
          .select(col("metric"), lit(0L).as("window_start"),
            col("n_series"), col("n_points"))
          .orderBy("metric")
    }
  }

  // ---- cardinality summary (SHOW CARDINALITY ESTIMATE serving) ---------

  /** (base window ns, lgK) of the registered HLL cardinality summary. */
  @volatile private var cardReg: Option[(Long, Int)] = None
  /** (log version built at, reg built with, persisted frame). */
  @volatile private var cardCache: Option[(Long, (Long, Int), DataFrame)] = None
  private val cardRoot = s"$rootDir/_cardinality"

  /** Register an HLL cardinality summary at `baseWindowNs` granularity:
    * from now on `SHOW CARDINALITY ESTIMATE` (any window that is a
    * multiple of the base) serves distinct-series estimates from
    * |metrics|×windows sketch rows ([[TsAnalytics.cardinalitySummary]])
    * instead of scanning points — the 100 TB-shaped cardinality
    * question. Derived cache like the rollups: built lazily over the
    * MERGED view (latest-version + tombstones), rebuilt when the log
    * version moves (deletes can shrink a set — append-only maintenance
    * via [[TsAnalytics.appendCardinalitySummary]] remains the
    * no-deletes fast path for external pipelines). */
  def registerCardinalitySummary(baseWindowNs: Long, lgK: Int = 12): Unit =
    synchronized {
      require(baseWindowNs > 0, "summary base window must be positive")
      require(lgK >= 4 && lgK <= 21, "lgK must be in [4, 21]")
      cardReg = Some((baseWindowNs, lgK))
      cardCache.foreach(_._3.unpersist(blocking = false)); cardCache = None
    }

  /** Drop the summary: ESTIMATE falls back to exact counts. */
  def dropCardinalitySummary(): Unit = synchronized {
    cardReg = None
    cardCache.foreach(_._3.unpersist(blocking = false)); cardCache = None
    deleteDir(Paths.get(cardRoot))
  }

  /** The registered summary spec, if any. */
  def cardinalitySummaryReg: Option[(Long, Int)] = cardReg

  private def cardinalityView(reg: (Long, Int)): DataFrame = synchronized {
    cardCache match {
      case Some((ver, r, df)) if ver >= snap.version && r == reg => df
      case old =>
        old.foreach(_._3.unpersist(blocking = false))
        val pts = loadPoints().getOrElse(TsdbEngine.emptyPoints(spark))
        TsAnalytics.writeCardinalitySummary(pts, reg._1, cardRoot, reg._2,
          loadTombstones())
        val df = TsAnalytics.readCardinalitySummary(spark, cardRoot)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cardCache = Some((snap.version, reg, df))
        df
    }
  }

  /** `SHOW CARDINALITY ESTIMATE [FROM m] [BY dur]`: distinct-series
    * ESTIMATES from the registered summary's sketch unions when the
    * requested window aligns (whole-range = union of every base window
    * per metric, emitted as window_start 0 like the exact form); exact
    * counts otherwise (no summary, or a window the summary can't
    * decompose). The estimate column is `n_series_est` on BOTH paths —
    * an exact count is a valid estimate; the serving tier, not the
    * numbers, is what the keyword selects. Standard error ~0.8% at the
    * default lgK=12, and EXACT while a window's series set fits the
    * sketch's sparse mode ([[TsAnalytics.cardinalitySummary]]). */
  def showCardinalityEstimate(metric: Option[String],
      windowNs: Option[Long]): DataFrame = {
    cardReg match {
      case Some(reg @ (base, _))
          if windowNs.forall(w => w >= base && w % base == 0) =>
        val summary0 = cardinalityView(reg)
        val summary = metric.fold(summary0)(m =>
          summary0.filter(TagMatch.metricPred(m)))
        windowNs match {
          case Some(w) => TsAnalytics.cardinalityServe(summary, base, w)
          case None =>
            summary.groupBy(col("metric"))
              .agg(hll_sketch_estimate(hll_union_agg(col("hll")))
                  .as("n_series_est"),
                sum(col("n_points")).as("n_points"))
              .select(col("metric"), lit(0L).as("window_start"),
                col("n_series_est"), col("n_points"))
              .orderBy("metric")
        }
      case _ =>
        showCardinality(metric, windowNs)
          .withColumnRenamed("n_series", "n_series_est")
    }
  }

  def getSeriesByTags(metric: String, tags: Map[String, String]): DataFrame = {
    var df = loadPoints().getOrElse(emptyPoints(spark))
      .filter(col("metric") === metric)
    tags.foreach { case (k, v) => df = df.filter(col("tags").getItem(k) === v) }
    if (!df.columns.contains("series_key")) // reuse a present key (r18)
      df = df.withColumn("series_key",
        QueryEngine.seriesKeyCol(col("metric"), col("tags")))
    df.select("series_key").distinct().orderBy("series_key")
  }

  // ---- maintenance ------------------------------------------------------

  /** Write-amplification accounting across compactions — served by the
    * default-registered [[Listeners.WriteAmplificationListener]] on
    * `PostCompaction` (the re-homed analog of `hooks/listeners/waf.go`). */
  def compactionStats: Listeners.CompactionStats = wafListener.stats

  private def bytesOf(relFiles: Seq[String]): Long =
    relFiles.iterator.map { f =>
      try Files.size(Paths.get(dataDir).resolve(f)) catch { case _: Exception => 0L }
    }.sum

  /** Retention policy (reference `retention_period` config,
    * `engine2/compaction_manager.go:812-825`): data points older than
    * `now - period` are dropped at COMPACTION time, not query time —
    * matching the reference, where expired entries stay visible until a
    * compaction cycle rewrites their tables (`:750-759`). */
  @volatile var retentionPeriodNs: Option[Long] = None

  /** LSM-compaction / OPTIMIZE analog: rewrite points keeping only the
    * winning version of each (series, ts) with tombstoned rows dropped
    * — and, when a retention period is set, expired rows dropped too
    * (the `timestamp >= cutoff` filter rides metric+date partition
    * pruning, so fully-expired date partitions are never even READ by
    * the rewrite) — then swap the whole file set in ONE commit (readers
    * see either the old or the new state, never both), clear the
    * tombstone log, vacuum. Observable state is unchanged apart from
    * retention-expired rows; storage shrinks and reads stop paying the
    * merge. `nowNs` is injectable for determinism (same convention as
    * [[QueryParams.nowNs]]). */
  /** Commits currently uncompacted: distinct commit stamps among the
    * live data files (compaction rewrites everything under ONE stamp, so
    * this is the L0-file-count analog the reference's compaction manager
    * triggers on, `engine2/compaction_manager.go` l0_trigger_file_count —
    * and the `M` knob [[graft.cli.EstimateConfig]] advises). */
  def uncompactedCommits: Int =
    snap.files.map { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      name.split("-part-", 2)(0) // "<stamp>-part-00000-..." → stamp
    }.distinct.size

  /** Trigger-based compaction: compact only once more than
    * `maxUncompacted` commits have accumulated (the reference's
    * L0-trigger policy made callable — drive it from a `PostPutBatch`
    * hook listener or any scheduler for the check-interval behavior).
    * Returns true when a compaction ran. */
  def maybeCompact(maxUncompacted: Int,
      nowNs: Option[Long] = None): Either[String, Boolean] = {
    require(maxUncompacted >= 1, "maxUncompacted must be >= 1")
    if (uncompactedCommits <= maxUncompacted) Right(false)
    else compact(nowNs).map(_ => true)
  }

  def compact(nowNs: Option[Long] = None): Either[String, Unit] = {
    if (hooks.hasListeners(EventType.PreCompaction))
      hooks.trigger(HookEvent(EventType.PreCompaction, Payloads.PreCompaction())) match {
        case Left(err) => return Left(err)
        case Right(()) => ()
      }
    // BLOCKING acquire (vs the folds' tryLock): an admin full compaction
    // waits for an in-flight threshold fold rather than racing it —
    // both rewrite inline rows, and overlapping folds would commit the
    // same rows twice (dedup-masked but double-counted by raw reads)
    foldLock.lock()
    try compactLocked(nowNs) finally foldLock.unlock()
  }

  private def compactLocked(nowNs: Option[Long]): Either[String, Unit] = {
    val s = snap
    val pts = loadPointsAt(s).getOrElse(return Right(()))
    val retained = retentionPeriodNs match {
      case Some(period) =>
        val cutoff = nowNs.getOrElse(System.currentTimeMillis() * 1000000L) - period
        pts.filter(col("timestamp") >= cutoff)
      case None => pts
    }
    val survivors = QueryEngine.mergedView(retained, s.tombs.map(tombOf))
      .select("metric", "tags", "timestamp", "fields", "seq")
    val stamp = java.util.UUID.randomUUID().toString.take(12)
    val staging = s"$rootDir/_staging/$stamp"
    survivors.withColumn("date", dateOfTs(col("timestamp")))
      // explicit count — see commitAppend's note (AQE would serialize
      // a small metric's per-directory writers into one task)
      .repartition(shufflePartitions, col("metric"), col("date"))
      .write.option("compression", compressionCodec)
      .partitionBy("metric", "date").parquet(staging)
    val added = moveStaged(Paths.get(staging), stamp)
    deleteDir(Paths.get(staging))
    // byte accounting while both file sets exist (pre-vacuum) — handed to
    // PostCompaction listeners (the default WAF listener consumes it)
    // inline blobs are read too (base64 → ~3/4 of the manifest chars)
    val bytesRead = bytesOf(s.files) +
      s.inline.map(_.blob.length.toLong * 3 / 4).sum
    val bytesWritten = bytesOf(added)
    val hwm = seqCounter.get()
    // removed L0 files and folded inline commits carry no metric/date
    // path segments — fold their recorded sets into the commit so epochs
    // bump and touched-date derivation sees their dates
    val l0Gone = s.files.filter(TxLog.isL0)
    val l0Metrics = l0Gone.flatMap(f => s.l0Keys.get(f).fold(Seq.empty[String])(_._1))
    val l0Dates = l0Gone.flatMap(f => s.l0Keys.get(f).fold(Seq.empty[String])(_._2))
    // fold EXACTLY the snapshot's inline versions and tombstone seqs —
    // never a blunt clear: compact() runs from PostPutBatch hooks and
    // schedulers DURING ingest, so an inline commit or a delete landing
    // between `val s = snap` and this commit must stay live (its rows /
    // its shadowing were not in this rewrite). Same concurrency
    // discipline as compactInline's foldedInline.
    log.commit(v => LogCommit(v, adds = added, removes = s.files,
      clearTombsUpToSeq =
        if (s.tombs.isEmpty) None else Some(s.tombs.map(_.seq).max),
      foldedInline = s.inline.map(_.version),
      metrics = (metricsOf(s.files ++ added) ++ l0Metrics ++
        s.inline.flatMap(_.metrics)).distinct,
      dates = (l0Dates ++ s.inline.flatMap(_.dates)).distinct, maxSeq = hwm))
    recordDerefs(s.files)
    committed()
    firePost(EventType.PostCompaction,
      Payloads.PostCompaction(s.files, added, bytesRead, bytesWritten))
    vacuum()
    Right(())
  }

  /** Retention as a METADATA operation: drop every data file whose
    * date partition lies ENTIRELY before the retention cutoff — one
    * commit of `removes`, no read, no rewrite. At 100 TB a daily
    * retention pass must not cost a table rewrite; this is the
    * lakehouse analog of the reference dropping expired entries only
    * for the subset a compaction already touches
    * (`engine2/compaction_manager.go:734-760` — retention there is
    * incremental too, never a standalone full rewrite). The boundary
    * partition (cutoff mid-day) keeps its rows until [[compact]]'s
    * exact ns filter — the same "enforced at compaction time, not
    * query time" semantics, advanced for whole partitions only, since
    * a fully-expired partition would contribute zero surviving rows to
    * the next compaction anyway. L0 files are dropped only when EVERY
    * recorded date is fully expired (files with no recorded keys are
    * conservatively kept for compact()). Fires the compaction hook
    * pair (a PreCompaction veto skips the sweep). Returns files
    * dropped. */
  def enforceRetention(nowNs: Option[Long] = None): Either[String, Int] =
    retentionPeriodNs match {
      case None => Right(0)
      case Some(period) =>
        if (hooks.hasListeners(EventType.PreCompaction))
          hooks.trigger(HookEvent(EventType.PreCompaction, Payloads.PreCompaction())) match {
            case Left(err) => return Left(err)
            case Right(()) => ()
          }
        val cutoff = nowNs.getOrElse(System.currentTimeMillis() * 1000000L) - period
        // partition date=D spans [D, D+1) days; fully expired iff
        // (D+1)·day ≤ cutoff iff D < dayStr(cutoff) — ISO dates compare
        // lexicographically, matching compact()'s `timestamp >= cutoff`
        val cutoffDay = TsdbEngine.dayStr(cutoff)
        // racing threshold folds read L0 files from THEIR snapshot; a
        // retention drop + vacuum in between would FileNotFound the
        // fold's read — same discipline as compact(): blocking acquire
        foldLock.lock()
        try {
          val s = snap
          val dead = s.files.filter { f =>
            if (TxLog.isL0(f))
              s.l0Keys.get(f).exists { case (_, dates) =>
                dates.nonEmpty && dates.forall(_ < cutoffDay) }
            else TsdbEngine.dateOfPath(f).exists(_ < cutoffDay)
          }
          if (dead.isEmpty) Right(0)
          else {
            val deadL0 = dead.filter(TxLog.isL0)
            val bytesDropped = bytesOf(dead)
            val hwm = seqCounter.get()
            log.commit(v => LogCommit(v, removes = dead,
              metrics = (metricsOf(dead) ++
                deadL0.flatMap(f => s.l0Keys.get(f).fold(Seq.empty[String])(_._1))).distinct,
              dates = deadL0.flatMap(f =>
                s.l0Keys.get(f).fold(Seq.empty[String])(_._2)).distinct,
              maxSeq = hwm))
            recordDerefs(dead)
            committed()
            firePost(EventType.PostCompaction,
              Payloads.PostCompaction(dead, Nil, bytesDropped, 0L))
            // ledger-only vacuum: the dropped files were just recorded as
            // derefs, so this stays O(files dropped) — a full data-root
            // walk here would contradict the metadata-only contract above
            // (and block write-path folds for its O(all files) duration,
            // since it runs under foldLock). Strays stay the explicit
            // admin vacuum()'s job.
            vacuumDerefs(vacuumGraceMs)
            Right(dead.size)
          }
        } finally foldLock.unlock()
    }

  /** Physically delete data files no longer referenced by the CURRENT
    * version (like `VACUUM`; time travel reaches back only to versions
    * whose files survive). */
  /** Retention window for [[vacuum]]: an unreferenced data file is only
    * deleted once it has been DEREFERENCED (not written) at least this
    * long ago — the lakehouse answer (Delta `VACUUM ... RETAIN`) to the
    * reference's SSTable refcounts (`sstable/` iterators pin files): a
    * long-running reader or a lagging follower on an older manifest
    * keeps working through compactions for up to the grace window, and
    * [[readAt]] time travel stays valid that far back. 0 (the default,
    * and the test configuration) vacuums immediately, like the
    * reference's drop-when-refcount-zero with no concurrent readers. */
  @volatile var vacuumGraceMs: Long = 0L

  /** Dereference ledger: data-root-relative path → wall-clock ms when a
    * commit THIS engine made dropped the file from the manifest. The
    * write-path fold's vacuum ([[vacuumDerefs]]) deletes from this list
    * alone — O(files this engine dereferenced within the grace window),
    * never a walk of the data root (at 100× scale the root holds millions
    * of files; a per-fold `Files.walk` was the last O(table-size) cost on
    * the hot write path). Bounded by grace window × fold rate: entries
    * leave when their file is deleted (here or by a full [[vacuum]]).
    * Files dereferenced by OTHER processes, or before a restart, are
    * strays to this ledger — the explicit admin [[vacuum]] keeps the
    * full-walk sweep for exactly those. Cf. the reference deleting
    * exactly the compacted inputs, never sweeping the store
    * (`engine2/compaction_manager.go:144-262`). */
  private val derefLedger =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def recordDerefs(paths: Seq[String]): Unit =
    if (paths.nonEmpty) {
      val now = System.currentTimeMillis()
      paths.foreach(p => derefLedger.putIfAbsent(p, now))
    }

  /** Ledger entries currently awaiting deletion (test seam). */
  private[graft] def derefLedgerSize: Int = derefLedger.size()

  /** Seed the (process-memory) deref ledger from the still-present
    * commit manifests at engine open: a crash between a dereference and
    * its grace expiry must not orphan the file into a stray that graced
    * vacuums defer while truncation is continuous — the dereference IS
    * in the log (`removes`), so restart recovers it and write-path fold
    * vacuums resume collecting pre-crash derefs. Walked ascending, so a
    * re-add ([[restoreVersion]]'s `adds`) prunes any earlier-seeded
    * entry and a re-remove re-seeds at the newer commit's mtime (grace
    * measures from the LAST dereference). Bounded by the truncation
    * window — pre-checkpoint manifests are gone, and any deref they
    * recorded is covered by the stray first-seen discipline in
    * [[vacuum]]. Cost: one read per surviving manifest, paid once at
    * open (the same manifests replay just walked). */
  private def rebuildDerefLedger(): Unit = {
    val s = snap
    val live = s.files.toSet
    val root = Paths.get(dataDir)
    log.availableCommitVersions().filter(_ <= s.version).foreach { v =>
      scala.util.Try(log.read(v)).foreach { c =>
        if (c.removes.nonEmpty) {
          lazy val t = scala.util.Try(log.commitFileMtimeMs(v))
            .getOrElse(System.currentTimeMillis())
          c.removes.foreach { r =>
            if (!live.contains(r) && Files.exists(root.resolve(r)))
              derefLedger.put(r, t)
          }
        }
        // a later commit that re-ADDS a removed path (restoreVersion is
        // the one such path) resurrects it — forget the deref
        if (c.adds.nonEmpty) c.adds.foreach(derefLedger.remove)
      }
    }
  }

  /** Write-path vacuum: delete ONLY files this engine's own commits
    * dereferenced (the fold knows exactly which files it dropped), once
    * their dereference is `graceMs` old. Never touches — or even lists —
    * anything else in the data root, and never consults the live file
    * set either (an O(live-files) set build per fold is the in-memory
    * echo of the walk this ledger replaced): a ledger entry is dead by
    * INVARIANT — fresh adds carry commit-unique names, the only local
    * re-add path ([[restoreVersion]]) prunes its re-adds from the
    * ledger before committing, [[restore]] swaps the root and clears
    * the ledger, and a FOREIGN restore racing live folds is outside
    * restore's own documented contract (admin op, must not race
    * writers). Entries younger than the grace stay put — memory is
    * bounded by grace window × fold rate, and a file a concurrent full
    * vacuum already deleted just ages into a deleteIfExists no-op. The
    * `_staging` orphan sweep is kept (it lists only in-flight fold
    * dirs, bounded by fold concurrency). */
  private def vacuumDerefs(graceMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    val root = Paths.get(dataDir)
    val it = derefLedger.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (graceMs <= 0L || e.getValue < cutoff) {
        Files.deleteIfExists(root.resolve(e.getKey))
        it.remove()
      }
    }
    sweepStagingOrphans(graceMs)
  }

  def vacuum(): Unit = vacuum(vacuumGraceMs)

  /** First wall-clock ms at which a graced [[vacuum]] OBSERVED a file
    * as unreferenced without a surviving remove-commit to date it — a
    * sound upper bound on its dereference time (a file observed
    * unreferenced at t was dereferenced at or before t), and one that
    * STAYS FIXED per file while the truncation bound keeps advancing
    * under continuous ingest. Without it, strays and truncation-lost
    * derefs were deferred until ingest paused for a full grace window
    * (VERDICT r15 #2): the only other sound estimate,
    * max(own mtime, truncation bound), rises with every truncation.
    * Entries are pruned when the file is deleted, re-added
    * ([[restoreVersion]]), or no longer observed unreferenced. */
  private val strayFirstSeenMs =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Delete data files no longer referenced by the CURRENT manifest.
    * With a grace window, the dereference time is recovered from the
    * commit log itself — the mtime of the commit file whose `removes`
    * dropped the data file (file names are commit-unique, so a removed
    * file is never re-added). Stray files the log never saw (crashed
    * staging moves) fall back to their own mtime. */
  def vacuum(graceMs: Long): Unit = {
    val live = snap.files.toSet
    val root = Paths.get(dataDir)
    if (!Files.isDirectory(root)) return
    val now = System.currentTimeMillis()
    val cutoff = now - graceMs
    // Only commit manifests still PRESENT are consulted (the log
    // truncates below checkpoints). A file whose removing commit was
    // truncated falls through to a fallback deref estimate — the MIN of
    // two independently sound upper bounds on its dereference time:
    // (a) max(own write mtime, truncation bound): any deref whose
    //     commit was truncated happened at or before (truncation time −
    //     the grace the truncation honored), so the raise over the bare
    //     mtime never deletes a time-travel/reader-protected file early
    //     even when this vacuum's graceMs exceeds the truncation's; but
    //     the bound ADVANCES with every truncation, so under continuous
    //     ingest it alone defers collection forever.
    // (b) the first time a graced vacuum OBSERVED the file unreferenced
    //     ([[strayFirstSeenMs]]): sound because observed-unreferenced
    //     implies already-dereferenced, and FIXED per file — so strays
    //     and truncation-lost derefs are collected one grace window
    //     after first observation, truncation or not. A restart resets
    //     observations; the cost is one extra grace window of deferral.
    lazy val removedAtMs: Map[String, Long] =
      if (graceMs <= 0) Map.empty
      else log.availableCommitVersions().filter(_ <= snap.version)
        .flatMap { v =>
          scala.util.Try(log.read(v)).toOption.toSeq.flatMap { c =>
            if (c.removes.isEmpty) Nil
            else {
              val t = log.commitFileMtimeMs(v)
              c.removes.map(_ -> t)
            }
          }
        }.toMap
    lazy val truncBoundMs: Long = log.lastTruncationBoundMs().getOrElse(0L)
    val observed = new java.util.HashSet[String]()
    Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => live.contains(root.relativize(p).toString))
      .filter { p =>
        graceMs <= 0 || {
          val rel = root.relativize(p).toString
          val derefMs = removedAtMs.getOrElse(rel, {
            observed.add(rel)
            val bound = math.max(Files.getLastModifiedTime(p).toMillis,
              truncBoundMs)
            val firstSeen = strayFirstSeenMs.computeIfAbsent(rel, _ => now)
            math.min(bound, firstSeen)
          })
          derefMs < cutoff
        }
      }
      .foreach(Files.deleteIfExists(_))
    // keep only observations for files still present and unreferenced —
    // deleted (just now or elsewhere) and re-added files must not pin
    // stale first-seen times (a re-add under the SAME name only happens
    // via restoreVersion, whose next observation would be wrong)
    if (graceMs > 0)
      strayFirstSeenMs.keySet().removeIf(rel =>
        !observed.contains(rel) || !Files.exists(root.resolve(rel)))
    sweepStagingOrphans(graceMs)
  }

  /** Orphaned `_staging` dirs — a crash BETWEEN a staged fold/append
    * write and its log commit strands the staging dir (and possibly
    * already-moved data files, cleaned by [[vacuum]] as unreferenced
    * strays). Readers never saw any of it (only manifest-listed files
    * are read), so deletion restores the pre-fold state exactly. A live
    * fold is distinguished by AGE: its newest mtime keeps moving while
    * it writes, and it deletes its dir at move-in — anything quiet for
    * the orphan window is dead. (Cf. the reference's recovery sweep,
    * `engine2/engine_recovery_test.go`.) Lists only `_staging`
    * children — bounded by fold concurrency, never table size. */
  private def sweepStagingOrphans(graceMs: Long): Unit = {
    val stagingRoot = Paths.get(s"$rootDir/_staging")
    if (Files.isDirectory(stagingRoot)) {
      val orphanCutoff = System.currentTimeMillis() -
        math.max(graceMs, stagingOrphanMinAgeMs)
      val kids = Files.list(stagingRoot)
      try kids.iterator().asScala.toSeq.foreach { d =>
        val walk = Files.walk(d)
        val newest =
          try walk.iterator().asScala
            .map(p => Files.getLastModifiedTime(p).toMillis)
            .foldLeft(0L)(math.max)
          finally walk.close()
        if (newest < orphanCutoff) deleteDir(d)
      } finally kids.close()
    }
  }

  /** Minimum quiet age before an un-committed `_staging` dir counts as
    * a crash orphan ([[vacuum]]) — generous, so an in-flight fold's
    * staged write (which refreshes mtimes as it goes) is never swept. */
  @volatile private[graft] var stagingOrphanMinAgeMs: Long = 600000L

  /** Snapshot = log copy + INCREMENTAL data copy: file names are
    * commit-unique, so only files the destination lacks are transferred
    * (the reference's incremental snapshot hard-links unchanged SSTables,
    * `snapshot/manager.go:225-355`). Stale destination files from older
    * snapshots are pruned to keep the snapshot tight. */
  def snapshot(destDir: String): Either[String, Unit] = {
    var dest = destDir
    if (hooks.hasListeners(EventType.PreCreateSnapshot)) {
      val pay = new Payloads.PreCreateSnapshot(dest)
      hooks.trigger(HookEvent(EventType.PreCreateSnapshot, pay)) match {
        case Left(err) => return Left(err)
        case Right(()) => dest = pay.snapshotDir
      }
    }
    val s = snap
    val destData = Paths.get(s"$dest/data")
    val srcData = Paths.get(dataDir)
    Files.createDirectories(destData)
    s.files.foreach { rel =>
      val dst = destData.resolve(rel)
      if (!Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        Files.copy(srcData.resolve(rel), dst)
      }
    }
    // prune data files the current version no longer references
    val live = s.files.toSet
    Files.walk(destData).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => live.contains(destData.relativize(p).toString))
      .foreach(Files.deleteIfExists(_))
    // replace the log wholesale (tiny JSON files) — minus writer
    // heartbeats, which are THIS root's liveness, not snapshot state
    val destLog = Paths.get(s"$dest/_log")
    deleteDir(destLog)
    copyDir(Paths.get(s"$rootDir/_log"), destLog)
    locally {
      val s = Files.list(destLog)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_writer."))
        .toSeq.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
    firePost(EventType.PostCreateSnapshot, Payloads.PostCreateSnapshot(dest))
    Right(())
  }

  /** Push replication to a DISJOINT-storage follower — the network-
    * shipping analog of the reference's WAL applier
    * (`replication/wal_applier.go`, `replication/grpc_server.go`), which
    * streams WAL entries to a remote and applies them in order. Here the
    * commit log IS the WAL, so shipping = for every version the
    * destination lacks: copy that commit's data files FIRST, then the
    * commit manifest — a follower tailing `destDir` with `sync()`
    * observes each commit atomically (a manifest never lands before the
    * files it publishes, the same invariant local commits have; the
    * manifest copy itself is an atomic move). Data files vacuumed at the
    * source are skipped: they are, by construction, dead by the shipped
    * tip, so the follower's visible file set never references them.
    * Returns the version now shipped. Incremental and idempotent —
    * call it on a schedule and the follower stays current. */
  def replicateTo(destDir: String): Long = {
    val s = snap
    val destLogDir = Paths.get(s"$destDir/_log")
    val destDataDir = Paths.get(s"$destDir/data")
    Files.createDirectories(destLogDir)
    Files.createDirectories(destDataDir)
    var from = new TxLog(s"$destDir/_log").latestVersion()
    def shipFile(rel: String): Unit = {
      val src = Paths.get(dataDir).resolve(rel)
      val dst = destDataDir.resolve(rel)
      if (Files.exists(src) && !Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        Files.copy(src, dst)
      }
    }
    // Ship the newest checkpoint ≤ the tip: its data files FIRST, then
    // the sidecar (large-table format), then the checkpoint manifest —
    // the same files-before-manifest invariant as commits. The
    // follower's replay jumps to the shipped checkpoint.
    def shipCheckpoint(cv: Long): Unit = {
      val ck = log.readCheckpoint(cv)
      ck.files.foreach(shipFile)
      // the files SIDECAR ships before the manifest that references
      // it, so the follower never reads a manifest whose sidecar is
      // missing
      val sidecarSrc = log.checkpointFilesPath(cv)
      if (Files.exists(sidecarSrc)) {
        val sidecarDst = destLogDir.resolve(sidecarSrc.getFileName.toString)
        if (!Files.exists(sidecarDst)) {
          val tmp = destLogDir.resolve(s".ship-ckptf-$cv.tmp")
          Files.copy(sidecarSrc, tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, sidecarDst, StandardCopyOption.ATOMIC_MOVE)
        }
      }
      val manifest = destLogDir.resolve(
        log.checkpointPath(cv).getFileName.toString)
      if (!Files.exists(manifest)) {
        val tmp = destLogDir.resolve(s".ship-ckpt-$cv.tmp")
        Files.copy(log.checkpointPath(cv), tmp,
          StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    // The follower's next commit was TRUNCATED at the source (it lags
    // past a checkpoint boundary, or is brand-new against a
    // checkpointed log): ship a covering checkpoint and resume the
    // commit walk after it.
    def resolveGap(v: Long): Long =
      log.latestCheckpoint(s.version).filter(_ >= v) match {
        case Some(cv) => shipCheckpoint(cv); cv
        case None => throw new IllegalStateException(
          s"replication gap: source commit $v truncated and no " +
            "checkpoint covers the follower")
      }
    if (from < s.version && !log.hasCommit(from + 1))
      from = resolveGap(from + 1)
    var v = from + 1
    while (v <= s.version) {
      // a commit can be truncated MID-WALK (a concurrent checkpoint +
      // truncation at the source — the same TOCTOU replay retries on):
      // its state is in a newer checkpoint by the truncate invariant,
      // so re-resolve the gap and resume past it
      val c = try log.read(v) catch {
        case _: IllegalStateException => v = resolveGap(v) + 1; null
      }
      if (c != null) {
        c.adds.foreach(shipFile)
        val manifest = destLogDir.resolve(f"$v%020d.json")
        if (!Files.exists(manifest)) {
          val tmp = destLogDir.resolve(s".ship-$v.tmp")
          Files.copy(log.commitPath(v), tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE)
        }
        v += 1
      }
    }
    s.version
  }

  /** `RESTORE FROM '<path>' [WITH OVERWRITE]` (`api/nbql/executor.go:53-81`).
    * The one NON-transactional mutation (a wholesale root swap), so it
    * carries the two guards CAS commits don't need: it refuses while a
    * foreign writer's heartbeat is live (their in-flight commits would
    * be half-swapped away — the silent-corruption race VERDICT r15 #7
    * makes loud), and it holds foldLock so this instance's own folds
    * never interleave with the swap. */
  def restore(srcDir: String, overwrite: Boolean): Either[String, Unit] = {
    if (!Files.isDirectory(Paths.get(s"$srcDir/_log")))
      return Left(s"no snapshot at $srcDir")
    if (snap.files.nonEmpty && !overwrite)
      return Left("target not empty; use WITH OVERWRITE")
    val foreign = liveForeignWriters()
    if (foreign.nonEmpty)
      return Left(s"restore refused: ${foreign.size} live writer(s) hold " +
        s"this root (heartbeat fresher than $writerLeaseTtlMs ms); " +
        "quiesce them or wait for lease expiry")
    foldLock.lock()
    try restoreLocked(srcDir) finally foldLock.unlock()
  }

  private def restoreLocked(srcDir: String): Either[String, Unit] = {
    deleteDir(Paths.get(rootDir))
    copyDir(Paths.get(srcDir), Paths.get(rootDir))
    // heartbeats that rode in with the copied log are other roots'
    // writers (and Files.copy refreshed their mtimes) — scrub them, or
    // they would block the NEXT restore for a full TTL
    locally {
      val logDir = Paths.get(s"$rootDir/_log")
      if (Files.isDirectory(logDir)) {
        val s = Files.list(logDir)
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("_writer."))
          .toSeq.foreach(Files.deleteIfExists(_))
        finally s.close()
      }
    }
    synchronized {
      snap = log.replay()
      viewCache = (-1L, None)
      // the whole root was swapped: every dereference this instance
      // remembers is about the OLD root — files with those names may be
      // live again in the restored one. Stray observations are equally
      // stale. Re-seed from the restored root's own manifests.
      derefLedger.clear()
      strayFirstSeenMs.clear()
      rebuildDerefLedger()
      seqCounter.set(snap.maxSeq)
      // log versions may have moved BACKWARDS — epoch-keyed caches are all
      // stale (the restored root has no _rollup materialization either)
      servingCache.values().iterator().asScala.foreach(unpersistMat)
      servingCache.clear()
      rollupCache.values().iterator().asScala
        .foreach(_._3.unpersist(blocking = false))
      rollupCache.clear()
      localCache.clear()
      localRollupCache.clear()
    }
    Right(())
  }

  /** Roll the table back to an older version IN PLACE with one commit
    * (Delta's RESTORE): the file set and tombstone state become those of
    * `version`. Fails if vacuum already removed a needed file. */
  def restoreVersion(version: Long): Either[String, Unit] = {
    val old = try log.replay(upTo = version) catch {
      case e: IllegalStateException =>
        return Left(s"cannot restore to $version: ${e.getMessage}")
    }
    if (old.version != version)
      return Left(s"cannot restore to $version: log tip is ${old.version}")
    // The whole check-diff-and-commit runs under foldLock: (a) the
    // vacuumed-file check and the diff against `snap` must not go stale
    // under a racing fold's commit-and-vacuum, and (b) the ledger prune
    // below must not race an IN-FLIGHT vacuumDerefs whose
    // weakly-consistent iterator already fetched the entry (it would
    // delete the file after this commit makes it live again) — every
    // ledger vacuum runs under foldLock, so a blocking acquire
    // serializes the prune-commit against it (same discipline as
    // compact()/enforceRetention). A restore that fails after the prune
    // merely leaves the files for the admin vacuum.
    foldLock.lock()
    try {
      val missing = old.files.filterNot(f => Files.exists(Paths.get(s"$dataDir/$f")))
      if (missing.nonEmpty)
        return Left(s"cannot restore to $version: ${missing.size} files vacuumed")
      val cur = snap
      val hwm = seqCounter.get()
      // inline commits roll back too: clear the live set and re-record the
      // target version's blobs as one combined blob (rows keep their seqs,
      // so the merge semantics are unchanged)
      val oldInline = old.inline.flatMap(ic => InlineRows.decode(ic.blob))
      val readds = old.files.diff(cur.files)
      // re-added L0 files carry no metric/date path segments — replay keys
      // them in l0Keys from THIS commit's recorded sets, so fold their old
      // keys in (over-approximation is safe: per-metric selection applies
      // exact column predicates on top; omitting them would make serving
      // views and rollups silently skip the restored rows)
      val l0ReKeys = readds.filter(TxLog.isL0).flatMap(old.l0Keys.get)
      // a re-add resurrects paths the ledger may hold as dead — prune
      // BEFORE the commit so no write-path fold vacuum can ever delete a
      // just-restored live file (the one re-add path in the design; see
      // vacuumDerefs). Stray first-seen observations on those paths are
      // equally stale.
      readds.foreach(derefLedger.remove)
      readds.foreach(strayFirstSeenMs.remove)
      log.commit(v => LogCommit(v,
        adds = readds, removes = cur.files.diff(old.files),
        tombs = old.tombs, clearTombs = true, clearInline = true,
        inline = if (oldInline.isEmpty) None else Some(InlineRows.encode(oldInline)),
        metrics = (metricsOf(cur.files ++ old.files) ++ l0ReKeys.flatMap(_._1) ++
          old.inline.flatMap(_.metrics) ++ cur.inline.flatMap(_.metrics)).distinct,
        dates = (l0ReKeys.flatMap(_._2) ++ old.inline.flatMap(_.dates) ++
          cur.inline.flatMap(_.dates)).distinct, maxSeq = hwm))
      recordDerefs(cur.files.diff(old.files))
    } finally foldLock.unlock()
    committed()
    Right(())
  }

  // recover pre-crash dereferences from the surviving manifests so
  // write-path fold vacuums resume collecting them (constructor-time;
  // placed last in the class body so every field it touches is
  // initialized — see rebuildDerefLedger's doc)
  rebuildDerefLedger()
}

object TsdbEngine {
  private[tsdb] val log = org.slf4j.LoggerFactory.getLogger(classOf[TsdbEngine])

  /** A serving-tier result: `Left(rows, schema)` = answered on the
    * driver (stream the rows directly — no plan, no job); `Right(plan)`
    * = budget-truncated, stream the full plan. */
  type Served = Either[(Array[Row], org.apache.spark.sql.types.StructType), DataFrame]

  /** Parquet codecs accepted by [[TsdbEngine.setCompression]] — the
    * reference's compressor set (`compressors/`: none/snappy/lz4/zstd)
    * plus gzip, all codec jars shipped with Spark. */
  val Codecs: Set[String] = Set("uncompressed", "snappy", "lz4", "zstd", "gzip")

  /** A registered rollup: interval, covered fields, whether per-window
    * t-digest sketches are stored (percentile eligibility), and the
    * smoothing recurrences whose exact fold states are materialized
    * ([[SmoothSpec]]; EWMA/HOLT … BY eligibility). */
  final case class RollupReg(intervalNs: Long, fields: Seq[String],
      digests: Boolean, smooth: Seq[SmoothSpec] = Nil)
  /** `_built.json` marker of an on-disk rollup materialization: the log
    * version it reflects plus the spec it was built with — top-level (not
    * engine-inner) so json4s can round-trip it. `smooth` defaults Nil so
    * pre-round-10 markers still read. */
  final case class RollupMarker(version: Long, intervalNs: Long,
      fields: Seq[String], digests: Boolean,
      smooth: Seq[SmoothSpec] = Nil)

  /** Parquet row shapes (Options encode the FieldValue union). */
  final case class StoredValue(d: Option[Double], l: Option[Long],
      s: Option[String], b: Option[Boolean])
  final case class StoredPoint(metric: String, tags: Map[String, String],
      timestamp: Long, fields: Map[String, StoredValue], seq: Long)
  final case class TombRow(kind: String, metric: String,
      tags: Map[String, String], fromNs: Long, toNs: Long, seq: Long)

  val DayNs: Long = 86400000000000L

  /** Partition date (yyyy-MM-dd string) of a ns-epoch timestamp. Exact
    * long arithmetic (`div`) — double division rounds ns values above
    * 2^53, so a point 1 ns before midnight could land one partition off
    * and disagree with the pruning filter. */
  def dateOfTs(ts: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val days = ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(ts - pmod(ts, lit(DayNs))),
      ColumnBridge.expression(lit(DayNs))))
    date_add(lit(java.sql.Date.valueOf("1970-01-01")), days.cast("int")).cast("string")
  }

  /** The same day computation on the driver, for pruning literals. */
  def dayStr(ns: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(ns, DayNs)).toString

  def tombOf(t: TombRow): Tombstone = t.kind match {
    case "point" => PointTombstone(t.metric, t.tags, t.fromNs, t.seq)
    case "series" => SeriesTombstone(t.metric, t.tags, t.seq)
    case "range" => RangeTombstone(t.metric, t.tags, t.fromNs, t.toNs, t.seq)
  }

  def rowOf(t: Tombstone): TombRow = t match {
    case PointTombstone(m, tg, ts, sq) => TombRow("point", m, tg, ts, ts, sq)
    case SeriesTombstone(m, tg, sq) => TombRow("series", m, tg, 0L, 0L, sq)
    case RangeTombstone(m, tg, a, b, sq) => TombRow("range", m, tg, a, b, sq)
  }

  /** `date=` partition value of a hive-layout path
    * (`metric=<m>/date=<yyyy-MM-dd>/<file>`), if present. */
  def dateOfPath(p: String): Option[String] = {
    val segs = p.split('/')
    if (segs.length >= 2 && segs(1).startsWith("date="))
      Some(segs(1).drop(5))
    else None
  }

  /** Distinct metrics named by a set of `metric=<m>/...` paths
    * (partition-escaped; %XX-unescaped like Spark's unescapePathName). */
  def metricsOf(paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      val seg = p.takeWhile(_ != '/')
      if (seg.startsWith("metric=")) Some(unescapePath(seg.drop(7))) else None
    }.distinct

  private def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  def emptyPoints(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], DataPoint.storageSchema)

  private[tsdb] def deleteDir(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  private[tsdb] def copyDir(src: Path, dst: Path): Unit = {
    Files.walk(src).iterator().asScala.foreach { s =>
      val d = dst.resolve(src.relativize(s))
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else {
        Files.createDirectories(d.getParent)
        Files.copy(s, d, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
