package graft.bench

import graft.model.DataPoint
import graft.tsdb.TsdbEngine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded inputs. Everything the engine sees is a pure function of the
  * run seed, so the checks can recompute any expected answer from the
  * same functions without asking the engine. */
object Gen {
  /** SplitMix64 finalizer: a stateless hash of its input. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def hash(parts: Long*): Long = parts.foldLeft(0x2545F4914F6CDD1DL)((h, p) => mix(h ^ p))
  /** Uniform in [0, 1) from a hash. */
  def u01(parts: Long*): Double = (hash(parts: _*) >>> 11) * (1.0 / (1L << 53))

  /** 2023-11-14T00:00:00Z in ns: a day boundary, so day-partitioned files
    * and rollup windows align with the generated timeline. */
  val T0: Long = 1699920000L * 1000000000L
  val Sec = 1000000000L

  /** Zipf(n, s) sampler over 0 until n (rank 0 most likely). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: java.util.Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** One generated metric: `nSeries` series × `nPoints` points every
    * `stepNs` from [[T0]]. Gauges take values on a 0.25 grid (exact sums);
    * counters are running sums of such increments. A seeded share of gauge
    * points is written twice (the second write wins), and seeded ranges,
    * points and whole series are deleted after the load. */
  final case class Series(metric: String, nSeries: Int, nPoints: Int, stepNs: Long,
      regions: Int, counter: Boolean, overwriteShare: Double,
      tombRanges: Int, tombPoints: Int, tombSeries: Int, seed: Long) {
    private val mid = metric.hashCode.toLong

    def host(s: Int): String = f"h$s%05d"
    def tags(s: Int): Map[String, String] =
      Map("host" -> host(s), "region" -> s"r${s % regions}")
    def ts(t: Int): Long = T0 + t * stepNs
    def endNs: Long = ts(nPoints - 1)

    def overwritten(s: Int, t: Int): Boolean =
      !counter && u01(seed, mid, s, t, 7L) < overwriteShare
    private def gauge(s: Int, t: Int, version: Int): Double =
      (mix(hash(seed, mid, s, t, version.toLong)) >>> 1) % 4000L / 4.0
    private def inc(s: Int, t: Int): Double = (hash(seed, mid, s, t, 3L) >>> 1) % 100L / 4.0

    /** The value the first write carries. */
    def firstValue(s: Int, t: Int): Double =
      if (counter) (0 to t).iterator.map(inc(s, _)).sum else gauge(s, t, 0)
    /** The value a reader must see (latest write wins). */
    def finalValue(s: Int, t: Int): Double =
      if (overwritten(s, t)) gauge(s, t, 1) else firstValue(s, t)

    /** Deleted (series, first index, last index) ranges. */
    lazy val deletedRanges: Seq[(Int, Int, Int)] = {
      val r = new java.util.Random(hash(seed, mid, 11L))
      (0 until tombRanges).map { _ =>
        val s = r.nextInt(nSeries); val a = r.nextInt(nPoints)
        (s, a, math.min(nPoints - 1, a + 1 + r.nextInt(math.max(1, nPoints / 20))))
      }
    }
    lazy val deletedPoints: Set[(Int, Int)] = {
      val r = new java.util.Random(hash(seed, mid, 12L))
      Seq.fill(tombPoints)((r.nextInt(nSeries), r.nextInt(nPoints))).toSet
    }
    lazy val deletedSeries: Set[Int] = {
      val r = new java.util.Random(hash(seed, mid, 13L))
      Seq.fill(tombSeries)(r.nextInt(nSeries)).toSet
    }
    def alive(s: Int, t: Int): Boolean =
      !deletedSeries(s) && !deletedPoints((s, t)) &&
        !deletedRanges.exists { case (ds, a, b) => ds == s && t >= a && t <= b }

    /** Expected raw rows of series `s` within [fromNs, toNs]: (ts, value). */
    def expectRaw(s: Int, fromNs: Long, toNs: Long): Seq[(Long, Double)] = {
      val a = math.max(0L, math.ceil((fromNs - T0).toDouble / stepNs).toLong).toInt
      val b = math.min(nPoints - 1L, math.floor((toNs - T0).toDouble / stepNs).toLong).toInt
      (a to b).filter(alive(s, _)).map(t => (ts(t), finalValue(s, t)))
    }

    def rows: Long = nSeries.toLong * nPoints

    /** Storage-schema rows of every write: the first write of each point
      * with seq `seqBase + i`, and each overwrite with a seq above all of
      * them (latest version wins the engine's merge). Built on the
      * executors from the seed. */
    def frame(spark: SparkSession, seqBase: Long, parts: Int): DataFrame = {
      val self = this
      val rdd = spark.sparkContext.range(0L, nSeries.toLong, 1L, parts).flatMap { sl =>
        val s = sl.toInt
        val tg = self.tags(s)
        var acc = 0.0
        (0 until self.nPoints).iterator.flatMap { t =>
          if (self.counter) acc += self.inc(s, t)
          val i = s.toLong * self.nPoints + t
          val first = Row(self.metric, tg, self.ts(t),
            Map("value" -> Row(if (self.counter) acc else self.gauge(s, t, 0), null, null, null)),
            seqBase + i)
          if (!self.overwritten(s, t)) Iterator.single(first)
          else Iterator(first, Row(self.metric, tg, self.ts(t),
            Map("value" -> Row(self.gauge(s, t, 1), null, null, null)), seqBase + self.rows + i))
        }
      }
      spark.createDataFrame(rdd, DataPoint.storageSchema)
    }

    /** Apply the seeded deletes. */
    def deletes(engine: TsdbEngine): Unit = {
      deletedRanges.foreach { case (s, a, b) => engine.deleteRange(metric, tags(s), ts(a), ts(b)) }
      deletedPoints.foreach { case (s, t) => engine.deletePoint(metric, tags(s), ts(t)) }
      deletedSeries.foreach(s => engine.deleteSeries(metric, tags(s)))
    }
  }

  /** Load every point of `sets` in ONE commit, then apply their deletes;
    * returns the rows written. */
  def load(engine: TsdbEngine, sets: Seq[Series], parts: Int): Long = {
    val base = engine.reserveSeqBlock()
    val offsets = sets.scanLeft(0L)((o, m) => o + 2 * m.rows)
    engine.putDF(sets.zip(offsets).map { case (m, o) => m.frame(engine.spark, base + o, parts) }
      .reduce(_ union _))
    sets.foreach(_.deletes(engine))
    sets.map(_.rows).sum
  }

  // ---- corpus -------------------------------------------------------------

  private val enWords = Array("the", "and", "of", "to", "in", "is", "that", "for",
    "it", "with", "as", "on", "was", "be", "by", "this", "are", "from", "at", "or")
  private val deWords = Array("der", "die", "und", "das", "ist", "nicht", "mit",
    "sich", "auf", "ein", "eine", "den", "dem", "zu", "von", "auch")

  /** A seeded word of the content vocabulary (about 5k distinct stems). */
  private def contentWord(h: Long): String = {
    val syl = Array("ka", "lo", "mi", "ren", "sto", "va", "pel", "qui", "dor", "an",
      "tes", "ul", "bri", "mon", "zer", "fa")
    val k = (h >>> 1) % 5000L
    syl((k % 16).toInt) + syl(((k / 16) % 16).toInt) + syl(((k / 256) % 16).toInt + 0)
  }

  /** A generated corpus with planted exact duplicates, near duplicates
    * and passages shared with an eval set. */
  final case class Corpus(seed: Long, nDocs: Int, dupShare: Double, nearShare: Double,
      deShare: Double, lowQualityShare: Double, evalOverlap: Int) {
    /** Doc kinds, by id: "orig", "exact" (copy of `src`), "near"
      * (copy of `src` with a few words swapped), "de", "low". */
    def kind(i: Int): String = {
      val u = u01(seed, i.toLong, 21L)
      if (i < nDocs / 10) "orig"
      else if (u < dupShare) "exact"
      else if (u < dupShare + nearShare) "near"
      else if (u < dupShare + nearShare + deShare) "de"
      else if (u < dupShare + nearShare + deShare + lowQualityShare) "low"
      else "orig"
    }
    /** The original a planted copy was made from (a smaller id). */
    def src(i: Int): Int = {
      var j = ((hash(seed, i.toLong, 22L) >>> 1) % math.max(1, i / 2)).toInt
      while (kind(j) != "orig") j = ((hash(seed, j.toLong, 23L) >>> 1) % math.max(1, j)).toInt
      j
    }
    private def origText(i: Int): Array[String] = {
      val n = 60 + ((hash(seed, i.toLong, 24L) >>> 1) % 90L).toInt
      Array.tabulate(n) { w =>
        val h = hash(seed, i.toLong, w.toLong, 25L)
        if ((h & 3L) == 0L) enWords(((h >>> 3) % enWords.length).toInt) else contentWord(h)
      }
    }
    def text(i: Int): String = kind(i) match {
      case "orig" => origText(i).mkString(" ")
      case "exact" => text(src(i))
      case "near" =>
        val ws = origText(src(i)).clone()
        // swap ~3% of words: Jaccard of 3-shingles stays well above 0.6
        (0 until math.max(1, ws.length / 33)).foreach { k =>
          val p = ((hash(seed, i.toLong, k.toLong, 26L) >>> 1) % ws.length).toInt
          ws(p) = contentWord(hash(seed, i.toLong, k.toLong, 27L))
        }
        ws.mkString(" ")
      case "de" =>
        Array.tabulate(80) { w =>
          val h = hash(seed, i.toLong, w.toLong, 28L)
          if ((h & 1L) == 0L) deWords(((h >>> 3) % deWords.length).toInt) else contentWord(h)
        }.mkString(" ")
      case _ => Array.fill(6)("the spam").mkString(" ")
    }
    /** Eval docs: each quotes a 12-word passage of a seeded original. */
    def evalDocs: Seq[(Long, String)] = (0 until evalOverlap).map { e =>
      val i = ((hash(seed, e.toLong, 29L) >>> 1) % (nDocs / 10)).toInt
      val ws = origText(i)
      (e.toLong, ("quoted passage follows " +: ws.slice(10, 22)).mkString(" "))
    }
    def frame(spark: SparkSession, parts: Int): DataFrame = {
      import org.apache.spark.sql.types._
      val self = this
      val rdd = spark.sparkContext.range(0L, nDocs.toLong, 1L, parts)
        .map(i => Row(i, self.text(i.toInt)))
      spark.createDataFrame(rdd, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("text", StringType))))
    }
  }

  /** Clustered `array<float>` embeddings (the pipeline's embedding type):
    * `nClusters` seeded centres plus noise. */
  final case class Vectors(seed: Long, n: Int, dim: Int, nClusters: Int, noise: Double) {
    def vec(i: Int): Array[Double] = {
      val c = ((hash(seed, i.toLong, 31L) >>> 1) % nClusters).toInt
      val r = new java.util.Random(hash(seed, i.toLong, 32L))
      Array.tabulate(dim) { d =>
        val centre = u01(seed, c.toLong, d.toLong, 33L) * 2 - 1
        centre + r.nextGaussian() * noise
      }
    }
    def frame(spark: SparkSession, parts: Int): DataFrame = {
      import org.apache.spark.sql.types._
      val self = this
      val rdd = spark.sparkContext.range(0L, n.toLong, 1L, parts)
        .map(i => Row(i, self.vec(i.toInt).map(_.toFloat).toSeq))
      spark.createDataFrame(rdd, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false)))))
    }
  }
}
