package graft.bench

import graft.functions.{TextFunctions, VectorFunctions}
import graft.pipeline.{Curate, Decontaminate, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One training-data batch job, repeated: `Curate.curate` over a seeded
  * corpus with planted exact duplicates, near duplicates and eval-set
  * overlap, plus `Similarity.ivfTopK` over seeded clustered embeddings.
  * Only this workload exercises the pipeline and the row-local natives;
  * tsdb, nbql and the server do no work here. */
final class Pipeline extends Workload {
  import Pipeline._

  private var corpus: Gen.Corpus = _
  private var vecs: Gen.Vectors = _
  private var docs: DataFrame = _
  private var evalDocs: DataFrame = _
  private var embeddings: DataFrame = _
  private var queries: DataFrame = _

  def sizes: Map[String, Any] = Map(
    "docs" -> corpus.nDocs, "exact_dup_share" -> corpus.dupShare,
    "near_dup_share" -> corpus.nearShare, "non_english_share" -> corpus.deShare,
    "low_quality_share" -> corpus.lowQualityShare, "eval_docs" -> corpus.evalOverlap,
    "vectors" -> vecs.n, "dim" -> vecs.dim, "clusters" -> vecs.nClusters,
    "queries" -> NQueries, "k" -> K, "nlist" -> NList, "nprobe" -> NProbe)

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    corpus = Gen.Corpus(ctx.seed, NDocs, dupShare = 0.08, nearShare = 0.06, deShare = 0.05,
      lowQualityShare = 0.05, evalOverlap = 12)
    vecs = Gen.Vectors(ctx.seed, NVecs, 16, 24, 0.08)
    val dir = ctx.dir(s"inputs$rep")
    corpus.frame(spark, ctx.cpus).write.parquet(s"$dir/docs")
    vecs.frame(spark, ctx.cpus).write.parquet(s"$dir/vecs")
    spark.createDataFrame(java.util.Arrays.asList(corpus.evalDocs.map { case (i, t) => Row(i, t) }: _*),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, text STRING"))
      .write.parquet(s"$dir/eval")
    evalDocs = spark.read.parquet(s"$dir/eval")
    docs = spark.read.parquet(s"$dir/docs")
    embeddings = spark.read.parquet(s"$dir/vecs")
    queries = queriesOf(embeddings)
  }

  private def queriesOf(v: DataFrame): DataFrame = v.filter(col("id") % (NVecs / NQueries) === 0)

  def teardown(): Unit = ()

  /** The measured job: inputs to the materialized lineage plus top-k.
    * Returns both results and the seconds the top-k query took. */
  private def job(d: DataFrame, corpusVecs: DataFrame, qs: DataFrame): (Array[Row], Array[Row], Double) = {
    val lineage = Curate.curate(d, "id", "text", evalDocs = Some(evalDocs)).collect()
    val t0 = System.nanoTime()
    val topk = Similarity.ivfTopK(qs, corpusVecs, K, NList, NProbe).collect()
    (lineage, topk, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds to run `df` to completion without collecting it. */
  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def measure(ctx: Ctx): Outcome = {
    val jobs = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
    val annS = scala.collection.mutable.ArrayBuffer[Double]()
    val spark = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    // the first job compiles the plans' generated code and warms the JIT;
    // it is recorded, not timed
    val w0 = System.nanoTime()
    var last = job(docs, embeddings, queries)
    val firstJobS = (System.nanoTime() - w0) / 1e9
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end || jobs.size < MinJobs) {
      // traced run: every 2nd job counted by the Spark listeners
      val on = ctx.traced && i % 2 == 0
      ctx.probe.filter(_ => on).foreach { p => p.drain(); p.reset(); p.active = true }
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      last = ctx.tracer.span("pipeline.job", req = if (on) ctx.tracer.newRequest() else -1L,
        parent = 0L)(job(docs, embeddings, queries))
      jobs += (((System.nanoTime() - t0) / 1e9, on))
      annS += last._3
      val m1 = System.currentTimeMillis()
      ctx.probe.filter(_ => on).foreach { p => p.drain(); p.active = false; spark += p.take(m0, m1) }
      i += 1
    }

    // checks, outside the timed window
    val (lineage, topk, _) = last
    val reason = lineage.map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val ids = 0 until corpus.nDocs
    val covers = lineage.length == corpus.nDocs && ids.forall(i => reason.contains(i.toLong))
    val exact = ids.filter(corpus.kind(_) == "exact")
    val exactOk = exact.forall { i =>
      val src = reason(corpus.src(i).toLong)
      reason(i.toLong) == (if (src.exists(r => r == "lang" || r == "quality")) src else Some("exact_dup"))
    }
    val near = ids.filter(corpus.kind(_) == "near")
    val nearFound = near.count(i => reason(i.toLong).contains("near_dup") ||
      reason(corpus.src(i).toLong).contains("near_dup"))
    val brute = Similarity.bruteTopK(queries, embeddings, K).collect()
    def sets(rows: Array[Row]) = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val (ivfSets, bruteSets) = (sets(topk), sets(brute))
    val recall = bruteSets.map { case (q, b) =>
      (ivfSets.getOrElse(q, Set.empty[Long]) intersect b).size.toDouble / b.size }.sum / bruteSets.size
    val wrong = Seq(covers, exactOk, recall >= MinRecall).count(!_)

    val times = jobs.map(_._1).toSeq
    val spans = ctx.tracer.all
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      SparkProbe.counters.map { case (n, _) =>
        s"pipeline.spark.$n" -> Stats.median(spark.map(_(n)).toSeq) }.toMap ++
      stageTimes(ctx) ++ Map(
        "pipeline.near_dup_recall" -> nearFound.toDouble / math.max(1, near.size),
        "trace.overhead_ms" -> 1e3 * (Stats.median(jobs.filter(_._2).map(_._1).toSeq) -
          Stats.median(jobs.filterNot(_._2).map(_._1).toSeq)),
        "trace.requests" -> jobs.count(_._2).toDouble)
    Outcome(
      e2e = Map("latency_p50_ms" -> 1e3 * Stats.median(times),
        "throughput_per_s" -> corpus.nDocs / Stats.median(times),
        "spark_query_ms" -> 1e3 * annS.sum / annS.size),
      layers = layers,
      attempted = jobs.size, failed = wrong, checked = 3,
      record = Map("job_s" -> Stats.median(times), "jobs" -> times.size, "job_s_all" -> times,
        "first_job_s" -> firstJobS,
        "ann_topk_s_all" -> annS.toSeq,
        "ann_recall_at_10" -> recall, "near_dup_recall" -> nearFound.toDouble / math.max(1, near.size),
        "planted_exact" -> exact.size, "planted_near" -> near.size,
        "lineage_covers_every_doc" -> covers, "planted_exact_dropped" -> exactOk,
        "stage_counts" -> lineage.groupBy(r => Option(r.getString(1)).getOrElse("kept"))
          .map { case (k, v) => k -> v.length }),
      spans = spans)
  }

  /** Each public stage, and each native, run alone on the same inputs. */
  private def stageTimes(ctx: Ctx): Map[String, Double] = {
    val stages = Map(
      "lang_quality" -> docs.select(TextAnalysis.langId(col("text")), TextAnalysis.qualityScore(col("text"))),
      "exact_dup" -> Dedup.exactGroups(docs, "id", "text"),
      "near_dup" -> Dedup.minhashLshPairs(docs, "id", "text", 3, 8, 4, 0.6),
      "decontam" -> Decontaminate.contamination(docs, evalDocs, "id", "text", 5, 1L),
      "ann_ivf" -> Similarity.ivfTopK(queries, embeddings, K, NList, NProbe))
    // natives over a cached, replicated input so one job's fixed cost is
    // small against the per-row work; the bare pass over the same input
    // is subtracted
    val rep = docs.select(col("text"), explode(sequence(lit(1), lit(NativeReplicas))).as("k"))
      .select(col("text"), TextFunctions.split_words(col("text")).as("ws"))
      .select(col("text"), col("ws"), TextFunctions.word_shingles(col("ws"), 3).as("sh"))
      .cache()
    val vrep = embeddings.select(col("vec"), explode(sequence(lit(1), lit(NativeReplicas))).as("k"))
      .cache()
    val n = rep.count().toDouble
    val nv = vrep.count().toDouble
    def perRow(base: DataFrame, withFn: DataFrame, rows: Double): Double = {
      timeNoop(base); timeNoop(withFn)
      val b = Stats.median((0 until 3).map(_ => timeNoop(base)))
      val f = Stats.median((0 until 3).map(_ => timeNoop(withFn)))
      math.max(0.0, (f - b) * 1e9 / rows)
    }
    val natives = Map(
      "split_words" -> perRow(rep.select(length(col("text"))),
        rep.select(size(TextFunctions.split_words(col("text")))), n),
      "minhash_lanes" -> perRow(rep.select(size(col("sh"))),
        rep.select(TextFunctions.minhash_lanes(col("sh"), 8)), n),
      "gram_hashes" -> perRow(rep.select(size(col("ws"))),
        rep.select(size(TextFunctions.gram_hashes(col("ws"), 5, true))), n),
      "simhash64" -> perRow(rep.select(size(col("sh"))),
        rep.select(TextFunctions.simhash64(col("sh"))), n),
      "vec_cosine" -> perRow(vrep.select(size(col("vec"))),
        vrep.select(VectorFunctions.vec_cosine(col("vec"), col("vec"))), nv))
    rep.unpersist(); vrep.unpersist()
    stages.map { case (k, df) => timeNoop(df); s"pipeline.stage_s.$k" -> timeNoop(df) } ++
      natives.map { case (k, v) => s"functions.ns_per_row.$k" -> v }
  }
}

object Pipeline {
  val NDocs = 2000
  val NVecs = 2000
  val NQueries = 50
  val K = 10
  val NList = 32
  val NProbe = 4
  val MinJobs = 3
  val NativeReplicas = 8
  /** IVF recall below this is a broken index, not an approximation. */
  val MinRecall = 0.5
}
