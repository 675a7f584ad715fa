package graft

import graft.streaming._
import graft.tsdb._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** NaN/±Inf are not samples in the running streaming twins, as in their
  * batch operators (cleanNumeric): the last emitted row per series
  * equals the batch row over the same feed. */
class StreamingFiniteSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000L
  // finite samples 5 @1s, 2 @3s, 7 @5s: n=3, delta=2, increase=2+5=7,
  // least-squares slope 0.5/s
  private val feed = Seq(("a", 1 * S, 5.0), ("a", 2 * S, Double.NaN),
    ("a", 3 * S, 2.0), ("a", 4 * S, Double.PositiveInfinity), ("a", 5 * S, 7.0))
  private val batchPts = feed.map { case (k, ms, v) =>
    TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms) }
  private val everything = QueryParams("m", endNs = Some(Long.MaxValue / 2))

  private def run(name: String)(
      twin: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = twin(pts).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try { mem.addData(feed: _*); q.processAllAvailable() } finally q.stop()
    spark.table(name).orderBy(col("ts")).collect()
  }

  test("streaming running delta: NaN/Inf are not samples (batch cleanNumeric parity)") {
    val rows = run("deltanan")(StreamingAnomaly.runningDelta(_, "k", "ts", "v"))
    assert(rows.length == 3, rows.mkString(","))
    val last = rows.last
    val got = (last.getAs[Long]("n_points"), last.getAs[Double]("delta"),
      last.getAs[Double]("increase"))
    val want = TsAnalytics.rangeDelta(batchPts.toDF(), everything)
      .select(col("n_points"), col("delta"), col("increase"))
      .as[(Long, Double, Double)].collect().head
    assert(want == ((3L, 2.0, 7.0)))
    assert(got == want, s"streaming $got vs batch $want")
  }

  test("streaming trend: NaN/Inf are not samples (batch cleanNumeric parity)") {
    val rows = run("trendnan")(StreamingAnomaly.trend(_, "k", "ts", "v",
      horizonSec = 2.0))
    assert(rows.length == 3, rows.mkString(","))
    val last = rows.last
    val want = TsAnalytics.predictLinear(batchPts.toDF(), everything,
        horizonNs = 2L * 1000000000L)
      .select(col("n_points"), col("slope_per_sec"), col("predicted"))
      .as[(Long, Double, Double)].collect().head
    assert(math.abs(want._2 - 0.5) < 1e-9)
    assert(last.getAs[Long]("n_points") == want._1)
    assert(math.abs(last.getAs[Double]("slope_per_sec") - want._2) < 1e-9,
      s"slope ${last.getAs[Double]("slope_per_sec")} vs batch ${want._2}")
    assert(math.abs(last.getAs[Double]("predicted") - want._3) < 1e-9,
      s"forecast ${last.getAs[Double]("predicted")} vs batch ${want._3}")
  }
}
