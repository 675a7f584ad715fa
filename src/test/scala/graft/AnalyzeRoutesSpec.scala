package graft

import graft.model.{DataPoint, FieldValue}
import graft.tsdb._
import org.apache.spark.sql.Row

/** Tier agreement over the rollup routing table ([[AnalyzeRoutes]]): for
  * every routed verb, on one seeded store with overwrites and
  * tombstones, the raw analytic, the Spark rollup route and the
  * driver-resident fold return the same rows in the route's schema —
  * exact for longs, strings and maps, 1e-9 relative for doubles. The
  * verbs come from the sealed [[AnalyzeSpec]] family itself, so a verb
  * added to the table later is covered without touching this spec. */
class AnalyzeRoutesSpec extends SparkSpec {

  private val Sec = 1000000000L
  private val Grain = 10 * Sec
  private val Alpha = 0.25

  /** One instance of every [[AnalyzeSpec]] case class, built from its
    * constructor's parameter types: "v" for strings (the field), two
    * grains for longs (window, interval, horizon), [[Alpha]] for doubles
    * (smoothing rates, thresholds), 3 for ints. */
  private def everySpec: Seq[AnalyzeSpec] = {
    import scala.reflect.runtime.universe._
    val mirror = runtimeMirror(getClass.getClassLoader)
    typeOf[AnalyzeSpec].typeSymbol.asClass.knownDirectSubclasses.toSeq
      .map { sym =>
        val ctor = mirror.runtimeClass(sym.asClass).getConstructors.head
        ctor.newInstance(ctor.getParameterTypes.toSeq.map { c =>
          if (c == classOf[String]) "v"
          else if (c == java.lang.Long.TYPE) Long.box(2 * Grain)
          else if (c == java.lang.Double.TYPE) Double.box(Alpha)
          else if (c == java.lang.Integer.TYPE) Int.box(3)
          else if (c == java.lang.Boolean.TYPE) Boolean.box(false)
          else Nil
        }.asInstanceOf[Seq[AnyRef]]: _*).asInstanceOf[AnalyzeSpec]
      }.sortBy(_.toString)
  }

  /** Three live series over 90 s at 1 s: integer counter values with
    * resets and flat runs, gaps (one-sample and empty rollup windows),
    * an overwrite batch, a deleted range, a deleted point and a deleted
    * fourth series. */
  private def seededEngine(): TsdbEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft_routes").toString
    val eng = new TsdbEngine(spark, dir)
    def pt(h: String, s: Long, v: Double) = DataPoint("m", Map("host" -> h),
      s * Sec, Map("v" -> FieldValue.ofDouble(v)))
    val rnd = new scala.util.Random(7)
    val base = for {
      (h, k) <- Seq("a", "b", "c", "d").zipWithIndex
      s <- 0L until 90L
      if !(h == "c" && s >= 40 && s < 52) && rnd.nextInt(5) != 0
    } yield pt(h, s, ((s * (k + 2)) % 23 + (if (s % 9 < 3) 0 else k)).toDouble)
    assert(eng.putBatch(base).isRight)
    assert(eng.putBatch(base.filter(_.timestamp % (7 * Sec) == 0).map(p =>
      p.copy(fields = Map("v" -> FieldValue.ofDouble(rnd.nextInt(30).toDouble)))))
      .isRight)
    assert(eng.deleteRange("m", Map("host" -> "a"), 20 * Sec, 25 * Sec).isRight)
    assert(eng.deletePoint("m", Map("host" -> "b"), 33 * Sec).isRight)
    assert(eng.deleteSeries("m", Map("host" -> "d")).isRight)
    eng.registerRollup("m", Grain, Seq("v"), smooth = Seq(
      SmoothSpec("v", "ewma", Alpha), SmoothSpec("v", "holt", Alpha, Alpha)))
    eng
  }

  private def same(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) =>
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
    case _ => x == y
  }

  test("every routed ANALYZE verb: raw analytic == Spark rollup route == driver fold") {
    val eng = seededEngine()
    val p = QueryParams("m", startNs = 0L, endNs = Some(90 * Sec - 1))
    val pts = eng.loadPoints().get
    val tombs = eng.loadTombstones()
    val routed = everySpec.flatMap(s => AnalyzeRoutes.of(p, s).map(s -> _))
    assert(routed.size >= 13, routed.map(_._1).mkString(", "))
    for ((spec, rt) <- routed) {
      val raw = rt.project(rt.raw(pts, tombs, None))
      assert(raw.schema.map(f => (f.name, f.dataType)) ==
        rt.schema.map(f => (f.name, f.dataType)), s"$spec schema")
      val sec = rt.schema.fieldNames.indexWhere(n =>
        n == "window_start" || n == "timestamp")
      def sorted(rows: Seq[Row]): Seq[Seq[Any]] = rows
        .sortBy(r => (r.getString(2), if (sec >= 0) r.getLong(sec) else 0L))
        .map(_.toSeq)
      val want = sorted(raw.collect().toSeq)
      assert(want.nonEmpty, s"$spec: empty raw result")
      def check(tier: String, got: Seq[Row]): Unit = {
        val g = sorted(got)
        assert(g.length == want.length, s"$spec $tier: ${g.length} rows vs ${want.length}")
        want.zip(g).foreach { case (w, r) =>
          assert(w.length == r.length && w.zip(r).forall { case (a, b) => same(a, b) },
            s"$spec $tier: $r vs raw $w")
        }
      }
      check("driver fold", eng.analyzeCached(p, spec).toSeq)
      assert(eng.lastServePath == rt.localPath, s"$spec: ${eng.lastServePath}")
      if (rt.spark.isDefined) {
        check("spark route", eng.analyze(p, spec).collect().toSeq)
        assert(eng.lastServePath == rt.sparkPath, s"$spec: ${eng.lastServePath}")
      }
    }
  }
}
